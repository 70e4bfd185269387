package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkSpec
import graft.pipeline.{Dedup, Manifest}

/** The continuous-ingest lifecycle composed as one deployment, checked
  * against an independent replay. A [[IngestStream.startManifest]]
  * stream takes 12 micro-batches (70% novel docs, 30% re-sends of the
  * batch before) and stops at every 4th: at batch 4 a takedown
  * ([[IngestStream.retractManifest]]) with targeted near-dups in the
  * next batch, at batch 8 a k=32/bands=16 [[Manifest.rebuild]], and at
  * both [[IngestStream.maybeCompact]] lets [[CompactionPolicy]] decide.
  * The replay runs the same recorded feed as a sequential loop over
  * driver-local frames ([[Dedup.signatureStore]] +
  * [[Dedup.dedupAgainstStore]] only: no manifest, policy, stream or
  * compaction), applying retract as rebuild-from-survivors (the
  * RetractionSpec contract). The kept id sets must be equal. */
class IngestLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private val (batches, perBatch) = (12, 40)
  private val (retractAt, rebuildAt) = (4, 8)

  // fully distinct token windows: a bounded vocabulary would make
  // exact duplicates at wrap distance
  private def docText(i: Long): String =
    (0 until 12).map(w => s"w${i * 12 + w}").mkString(" ")

  private def baseBatch(b: Int): Seq[(Long, String)] = {
    val base = b.toLong * perBatch
    (0 until perBatch).map { j =>
      val id = base + j
      // position j+3 has (j+3) % 10 >= 3, so the batch before emitted
      // it as an original
      if (j % 10 < 3 && j < perBatch - 5 && b > 0)
        (1000000L + id, docText(base - perBatch + j + 3))
      else (id, docText(id))
    }
  }

  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(df.collectAsList(), df.schema)

  test("retract, rebuild and policy compaction across restarts keep " +
      "exactly the sequential replay's documents") {
    val root = Files.createTempDirectory("ingest_lifecycle").toString
    val (storeDir, outDir, ckpt) =
      (s"$root/store", s"$root/out", s"$root/ckpt")
    val seedDf =
      Seq((0L, "seed corpus document about nothing in particular zero"))
        .toDF("doc_id", "text")
    Manifest.append(spark, storeDir,
      Dedup.signatureStore(seedDf, "doc_id", "text"), -1L)

    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    var kBands = (16, 8)
    def start(): StreamingQuery = IngestStream.startManifest(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      storeDir, outDir, ckpt, k = kBands._1, bands = kBands._2)
    def keptIds(): Set[Long] = Manifest.rows(spark, outDir)
      .select("doc_id").as[Long].collect().toSet

    val feed = scala.collection.mutable.ArrayBuffer
      .empty[Seq[(Long, String)]]
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    var retractIds = Seq.empty[Long]
    var survivorProbes = Seq.empty[Long]
    var dropProbes = Seq.empty[Long]
    var compactions = 0
    var q = start()
    (0 until batches).foreach { b =>
      if (b > 0 && b % 4 == 0) {
        q.stop()
        if (b == retractAt) {
          val kept = keptIds().filter(_ < 1000000L).toSeq.sorted
          retractIds = kept.filter(_ % 13 == 3)
          survivorProbes = retractIds.take(5)
          dropProbes = kept.filter(_ % 13 == 5).take(5)
          IngestStream.retractManifest(spark, storeDir, outDir,
            retractIds.toDF("doc_id"))
        }
        if (b == rebuildAt) {
          kBands = (32, 16)
          Manifest.rebuild(spark, storeDir, Dedup.signatureStore(
            Manifest.rows(spark, outDir).select("doc_id", "text")
              .unionByName(seedDf), "doc_id", "text", k = 32))
        }
        // 5 store generations by now, above the bound of 3
        if (IngestStream.maybeCompact(spark, storeDir, outDir, ckpt,
            maxPartitions = 3, recentWalls = walls.takeRight(3).toSeq,
            baselineWalls = walls.take(3).toSeq).compact)
          compactions += 1
        q = start()
      }
      // after the takedown: near-dups (one appended token, J = 10/11)
      // of retracted docs must survive, of kept docs must drop
      val data = baseBatch(b) ++ (if (b != retractAt) Nil else
        survivorProbes.map(r => (4000000L + r, docText(r) + " zz9")) ++
          dropProbes.map(s => (5000000L + s, docText(s) + " zz9")))
      feed += data
      mem.addData(data)
      val t0 = System.nanoTime()
      q.processAllAvailable()
      walls += (System.nanoTime() - t0) / 1e9
    }
    q.stop()
    val streamKept = keptIds()

    var k = 16
    var repStore = local(Dedup.signatureStore(seedDf, "doc_id", "text"))
    val repKept = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    feed.zipWithIndex.foreach { case (data, b) =>
      if (b == retractAt) repKept.filterInPlace(d => !retractIds.contains(d._1))
      if (b == rebuildAt) k = 32
      if (b == retractAt || b == rebuildAt)
        repStore = local(Dedup.signatureStore(
          repKept.toSeq.toDF("doc_id", "text").unionByName(seedDf),
          "doc_id", "text", k = k))
      val surv = Dedup.dedupAgainstStore(data.toDF("doc_id", "text"),
        "doc_id", "text", repStore, k = k, bands = k / 2)
        .as[(Long, String)].collect().toSeq
      repKept ++= surv
      repStore = local(repStore.unionByName(
        Dedup.signatureStore(surv.toDF("doc_id", "text"), "doc_id", "text",
          k = k)))
    }
    val replayKept = repKept.map(_._1).toSet

    assert(compactions >= 1)
    assert(retractIds.nonEmpty && survivorProbes.size == 5 &&
      dropProbes.size == 5)
    assert(survivorProbes.forall(r => streamKept(4000000L + r)))
    assert(dropProbes.forall(s => !streamKept(5000000L + s)))
    assert(retractIds.forall(r => !streamKept(r)))
    assert(streamKept == replayKept,
      s"only stream: ${(streamKept -- replayKept).toSeq.sorted.take(10)}; " +
        s"only replay: ${(replayKept -- streamKept).toSeq.sorted.take(10)}")
  }
}
