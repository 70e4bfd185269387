package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Compaction and rebuild of the lifecycle's [[Manifest]] artifacts
  * ([[Manifest.compact]] / [[Manifest.rebuild]] /
  * [[Similarity.compactIndexManifest]] /
  * [[graft.streaming.IngestStream.compactManifest]]): the row multiset
  * is preserved exactly, keep/drop and ANN answers are identical
  * against the compacted artifact, the generation count collapses to
  * one base, and compaction is idempotent. */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private def docsDf(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def generations(dir: String): Seq[Long] =
    Manifest.state(spark, dir).entries.map(_.value).sorted

  test("Manifest.compact preserves the signature-store row set, " +
      "collapses to one base generation, keeps keep/drop identical, " +
      "and is idempotent") {
    val root = Files.createTempDirectory("compact_store").toString
    val storeDir = s"$root/store"
    // three generations, the q195 shape: seed + two batch appends
    val b1 = docsDf(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      2L -> "completely different text about spark query engines and shuffles")
    val b2 = docsDf(
      10L -> "fresh second-batch document about watermarks and state stores")
    val b3 = docsDf(
      20L -> "third batch content on codegen and tungsten pipelines here")
    Seq(-1L -> b1, 0L -> b2, 1L -> b3).foreach { case (v, b) =>
      Manifest.append(spark, storeDir,
        Dedup.signatureStore(b, "doc_id", "text"), v)
    }

    def store(): DataFrame =
      Manifest.rows(spark, storeDir).drop("batch")
    // probe batch: near-dups of docs from ALL three generations plus
    // one fresh doc — keep/drop must not change under compaction
    val probe = docsDf(
      100L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa xx",
      101L -> "fresh second-batch document about watermarks and state stores yy",
      102L -> "third batch content on codegen and tungsten pipelines here zz",
      103L -> "a genuinely novel document mentioning nothing seen before now")
    def keeps(): Set[Long] =
      Dedup.dedupAgainstStore(probe, "doc_id", "text", store(),
        minJaccard = 0.5).select("doc_id").as[Long].collect().toSet

    val rowsBefore = sortedRows(store())
    val keepBefore = keeps()
    assert(keepBefore == Set(103L)) // the three near-dups all drop

    Manifest.compact(spark, storeDir)
    assert(generations(storeDir) == Seq(-1L))
    assert(sortedRows(store()) == rowsBefore)
    assert(keeps() == keepBefore)

    // idempotent: compacting the already-compacted base is a no-op on
    // the row set
    Manifest.compact(spark, storeDir)
    assert(generations(storeDir) == Seq(-1L))
    assert(sortedRows(store()) == rowsBefore)
  }

  test("Manifest.rebuild re-hashes the corpus under new parameters " +
      "and swaps — the old-k store would be refused, the rebuilt one " +
      "answers") {
    val root = Files.createTempDirectory("rebuild_store").toString
    val storeDir = s"$root/store"
    val d = docsDf(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      2L -> "completely different text about spark query engines and shuffles")
    val d3 = docsDf(3L -> "a third document about watermarks and state stores")
    Manifest.append(spark, storeDir,
      Dedup.signatureStore(d, "doc_id", "text", k = 8), -1L)
    Manifest.append(spark, storeDir,
      Dedup.signatureStore(d3, "doc_id", "text", k = 8), 0L)
    val probe = docsDf(100L ->
      "alpha beta gamma delta epsilon zeta eta theta iota kappa xx")
    def store(): DataFrame = Manifest.rows(spark, storeDir).drop("batch")
    // the k=8 store is refused at k=16 (the width guard's job) …
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupAgainstStore(probe, "doc_id", "text", store(),
        k = 16, minJaccard = 0.5).collect()
    }
    assert(e.getMessage.contains("rebuild the store"))
    // … and the rebuild migrates it: the current corpus re-hashed at
    // the new k replaces every generation in one commit
    val corpus = d.unionByName(d3)
    Manifest.rebuild(spark, storeDir,
      Dedup.signatureStore(corpus, "doc_id", "text", k = 16))
    assert(generations(storeDir) == Seq(-1L))
    assert(new java.io.File(storeDir).listFiles()
      .count(_.getName.startsWith("gen-")) == 1)
    assert(Dedup.dedupAgainstStore(probe, "doc_id", "text", store(),
        k = 16, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().isEmpty)
    assert(sortedRows(store()) == sortedRows(
      Dedup.signatureStore(corpus, "doc_id", "text", k = 16)))
  }

  test("Similarity.compactIndexManifest preserves the (neighbor_id, " +
      "cell, codes) row set and the ANN answer over the persisted index") {
    val root = Files.createTempDirectory("compact_index").toString
    val idxDir = s"$root/index"
    // deterministic vectors; planted exact copies (+1000) so the
    // answer is pinned regardless of the trained model
    def vec(i: Long): Seq[Double] =
      (0 until 64).map(d => math.sin(i * 64 + d).abs + 0.01)
    val base = (0L until 48L).map(i => (i, vec(i))).toDF("vec_id", "v")
    val copies = (0L until 4L).map(i => (i + 1000L, vec(i)))
      .toDF("vec_id", "v")
    val corpus = base.unionByName(copies)
    val (model, idx1) = Similarity.ivfPqIndex(
      corpus.filter(col("vec_id") % 2 === 0), "vec_id", "v",
      nlist = 4, m = 8, ksub = 8)
    Similarity.writeIndexManifest(spark, idxDir, model, idx1)
    Manifest.append(spark, idxDir,
      Similarity.indexBatch(corpus.filter(col("vec_id") % 2 === 1),
        "vec_id", "v", model), 0L)

    def index(): DataFrame = Similarity.readIndexManifest(spark, idxDir)._2
    val probes = base.filter(col("vec_id") < 4)
    // shortlist 32 ≥ the probed cells' candidate count, so the re-rank
    // is exhaustive within them — coarse ksub=8 codes tie many ADCs
    // and a tight shortlist would tie-break the planted copy out
    def answer(): Seq[(Long, Long)] =
      Similarity.knnIvfPqOnIndex(probes, index(), corpus, "vec_id",
        "v", model, k = 1, nprobe = 2, shortlist = 32)
        .select("probe_id", "neighbor_id").as[(Long, Long)]
        .collect().sorted.toSeq

    val rowsBefore = sortedRows(index())
    val ansBefore = answer()
    assert(ansBefore == (0L until 4L).map(i => (i, i + 1000L)))

    Similarity.compactIndexManifest(spark, idxDir)
    assert(generations(idxDir) == Seq(-1L))
    assert(sortedRows(index()) == rowsBefore)
    assert(answer() == ansBefore)
    // the one base generation is clustered by cell: every cell's rows
    // sit in exactly one parquet file
    val filesPerCell = Manifest.rows(spark, idxDir)
      .select(col("cell"), input_file_name().as("file")).distinct()
      .groupBy("cell").count().select("count").as[Long].collect()
    assert(filesPerCell.nonEmpty && filesPerCell.forall(_ == 1L))
  }

  test("IngestStream.compactManifest folds store and out, the " +
      "restarted query " +
      "sees identical keep/drop, and the uncommitted-batch guard " +
      "fails loudly on a crashed checkpoint") {
    val root = Files.createTempDirectory("compact_ingest").toString
    val (inDir, storeDir, outDir, ckpt) =
      (s"$root/in", s"$root/store", s"$root/out", s"$root/ckpt")
    new java.io.File(inDir).mkdirs()
    def writeFile(name: String, lines: Seq[String]): Unit = {
      val tmp = java.nio.file.Paths.get(inDir, s".$name.tmp")
      Files.write(tmp, lines.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      Files.move(tmp, java.nio.file.Paths.get(inDir, name))
    }
    def doc(id: Long, text: String): String =
      s"""{"doc_id":$id,"text":"$text"}"""
    Manifest.append(spark, storeDir, Dedup.signatureStore(docsDf(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      "doc_id", "text"), -1L)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING")
    def start() = graft.streaming.IngestStream.startManifest(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").json(inDir),
      "doc_id", "text", storeDir, outDir, ckpt, minJaccard = 0.5)

    val q1 = start()
    writeFile("b0.json", Seq(
      doc(10L, "a fresh document about watermarks and state stores"),
      doc(11L, "another fresh piece mentioning parquet bucketing today")))
    q1.processAllAvailable()
    writeFile("b1.json", Seq(
      doc(20L, "genuinely new content on codegen and tungsten"),
      doc(21L, "a fresh document about watermarks and state stores zz")))
    q1.processAllAvailable()
    q1.stop()
    def kept(): Set[Long] = Manifest.rows(spark, outDir)
      .select("doc_id").as[Long].collect().toSet
    assert(kept() == Set(10L, 11L, 20L))

    // compact with the clean checkpoint: guard passes, generations
    // collapse
    graft.streaming.IngestStream.compactManifest(spark, storeDir, outDir,
      ckpt)
    assert(generations(storeDir) == Seq(-1L))
    assert(generations(outDir) == Seq(-1L))
    assert(kept() == Set(10L, 11L, 20L))

    // restart on the compacted store: a near-dup of a pre-compaction
    // survivor still drops, a fresh doc still keeps — keep/drop is a
    // row-set function and compaction preserved the set
    writeFile("b2.json", Seq(
      doc(30L, "another fresh piece mentioning parquet bucketing today xx"),
      doc(31L, "entirely unseen sentence about broadcast joins and skew")))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    assert(Manifest.rows(spark, outDir).filter(col("batch") === 2L)
      .select("doc_id").as[Long].collect().toSet == Set(31L))

    // crash simulation: delete the newest commit marker — batch 2 is
    // now uncommitted, and the guard must refuse to fold it
    val commits = java.nio.file.Paths.get(ckpt, "commits")
    import scala.jdk.CollectionConverters._
    val newest = Files.list(commits).iterator().asScala
      .filter(p => p.getFileName.toString.forall(_.isDigit))
      .maxBy(_.getFileName.toString.toLong)
    Files.delete(newest)
    Files.deleteIfExists(commits.resolve(s".${newest.getFileName}.crc"))
    val e = intercept[IllegalArgumentException] {
      graft.streaming.IngestStream.compactManifest(spark, storeDir,
        outDir, ckpt)
    }
    assert(e.getMessage.contains("no checkpoint commit"))
    // finish the replay, stop cleanly — now compaction proceeds
    val q3 = start()
    q3.processAllAvailable()
    q3.stop()
    // a PURGED commit log (spark.sql.streaming.minBatchesToRetain
    // drops old markers on long-running queries) must NOT flag old —
    // fully committed — partitions: only ids beyond the NEWEST commit
    // are suspect (batches execute sequentially). Delete the OLDEST
    // marker; the guard below must still pass.
    val oldest = Files.list(commits).iterator().asScala
      .filter(p => p.getFileName.toString.forall(_.isDigit))
      .minBy(_.getFileName.toString.toLong)
    Files.delete(oldest)
    Files.deleteIfExists(commits.resolve(s".${oldest.getFileName}.crc"))
    graft.streaming.IngestStream.compactManifest(spark, storeDir, outDir,
      ckpt)
    assert(generations(storeDir) == Seq(-1L))
    assert(kept() == Set(10L, 11L, 20L, 31L))
  }
}
