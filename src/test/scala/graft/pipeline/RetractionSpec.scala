package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Retraction (un-keep) from the lifecycle's artifacts
  * ([[Dedup.retract]] / [[Similarity.retract]] on frames,
  * [[Manifest.retract]] / [[graft.streaming.IngestStream.retractManifest]]
  * on persisted ones): the result is row-identical to rebuilding the
  * artifact from the surviving corpus, a later batch's near-dup of a
  * retracted doc SURVIVES ingest (the late-decontamination / takedown
  * semantics), and the persisted path rewrites only the generations
  * that contain retracted ids. */
class RetractionSpec extends SparkSpec {
  import spark.implicits._

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private val corpus = Seq(
    1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    2L -> "completely different text about spark query engines and shuffles",
    3L -> "a document about watermarks and state stores in streaming jobs",
    4L -> "another piece mentioning parquet bucketing and broadcast joins")
    .toDF("doc_id", "text")

  test("retract(store) == rebuild from the surviving corpus, and " +
      "retract-then-ingest keeps a near-dup of the retracted doc") {
    val store = Dedup.signatureStore(corpus, "doc_id", "text")
    val ids = Seq(3L).toDF("doc_id")
    val retracted = Dedup.retract(store, ids, "doc_id")
    val rebuilt = Dedup.signatureStore(
      corpus.filter(col("doc_id") =!= 3L), "doc_id", "text")
    assert(sortedRows(retracted) == sortedRows(rebuilt))

    // the takedown semantics: a batch near-dup of retracted doc 3 now
    // survives; a near-dup of still-kept doc 4 still drops
    val batch = Seq(
      30L -> "a document about watermarks and state stores in streaming jobs xx",
      40L -> "another piece mentioning parquet bucketing and broadcast joins yy")
      .toDF("doc_id", "text")
    val keepsBefore = Dedup.dedupAgainstStore(batch, "doc_id", "text",
      store, minJaccard = 0.5).select("doc_id").as[Long].collect().toSet
    assert(keepsBefore == Set.empty[Long])
    val keepsAfter = Dedup.dedupAgainstStore(batch, "doc_id", "text",
      retracted, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(keepsAfter == Set(30L))
  }

  test("Manifest.retract rewrites only the hit generations and equals " +
      "the rebuilt store") {
    val root = Files.createTempDirectory("retract_store").toString
    val storeDir = s"$root/store"
    val slices = Seq(
      -1L -> corpus.filter(col("doc_id") <= 2L),
      0L -> corpus.filter(col("doc_id") === 3L),
      1L -> corpus.filter(col("doc_id") === 4L))
    slices.foreach { case (b, df) =>
      Manifest.append(spark, storeDir,
        Dedup.signatureStore(df, "doc_id", "text"), b)
    }
    def files(b: Long): Map[String, Long] = {
      val gen = Manifest.state(spark, storeDir).entries
        .find(_.value == b).get.path
      new java.io.File(s"$storeDir/$gen").listFiles().toSeq
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val untouched0 = files(-1L)
    val untouched1 = files(1L)

    // retract doc 3 (lives only in generation 0) plus an id the store
    // never held (retraction lists routinely include already-gone docs)
    val removed = Manifest.retract(spark, storeDir,
      Seq(3L, 999L).toDF("doc_id"), "doc_id")
    assert(removed == 1L)

    val after = Manifest.rows(spark, storeDir).drop("batch")
    val rebuilt = Dedup.signatureStore(
      corpus.filter(col("doc_id") =!= 3L), "doc_id", "text")
    assert(sortedRows(after) == sortedRows(rebuilt))
    // the generations without retracted ids kept their files
    // byte-identical — same names, same mtimes
    assert(files(-1L) == untouched0)
    assert(files(1L) == untouched1)
    // the rewritten generation's old directory was collected
    assert(new java.io.File(storeDir).listFiles()
      .count(_.getName.startsWith("gen-")) == 3)
  }

  test("IngestStream.retractManifest removes a doc from BOTH artifacts " +
      "and a fresh batch treats its near-dup as novel") {
    val root = Files.createTempDirectory("retract_ingest").toString
    val (storeDir, outDir) = (s"$root/store", s"$root/out")
    // two batch generations of store + out, the IngestStream layout
    val b0 = corpus.filter(col("doc_id") <= 2L)
    val b1 = corpus.filter(col("doc_id") > 2L)
    Seq(-1L -> b0, 0L -> b1).foreach { case (v, b) =>
      Manifest.append(spark, storeDir,
        Dedup.signatureStore(b, "doc_id", "text"), v)
      Manifest.append(spark, outDir, b, v)
    }

    val (storeRemoved, docsRemoved) = graft.streaming.IngestStream
      .retractManifest(spark, storeDir, outDir, Seq(3L).toDF("doc_id"))
    assert(storeRemoved == 1L && docsRemoved == 1L)
    assert(Manifest.rows(spark, outDir)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 4L))

    // a near-dup of the retracted doc now survives a fresh batch
    val batch = Seq(30L ->
      "a document about watermarks and state stores in streaming jobs xx")
      .toDF("doc_id", "text")
    val store = Manifest.rows(spark, storeDir).drop("batch")
    assert(Dedup.dedupAgainstStore(batch, "doc_id", "text", store,
        minJaccard = 0.5).select("doc_id").as[Long].collect().toSet
      == Set(30L))
  }

  test("Similarity.retract == re-encode of the surviving corpus; the " +
      "ANN answer falls to the next copy; Manifest.retract on the " +
      "persisted index matches on disk") {
    def vec(i: Long): Seq[Double] =
      (0 until 64).map(d => math.sin(i * 64 + d).abs + 0.01)
    val base = (0L until 48L).map(i => (i, vec(i))).toDF("vec_id", "v")
    // TWO planted copies per probe: retracting the +1000 set must move
    // the top-1 answer to the +2000 set (tie-break picks the lower id,
    // so a no-op retraction would keep answering +1000)
    val copies1 = (0L until 4L).map(i => (i + 1000L, vec(i)))
      .toDF("vec_id", "v")
    val copies2 = (0L until 4L).map(i => (i + 2000L, vec(i)))
      .toDF("vec_id", "v")
    val corpus = base.unionByName(copies1).unionByName(copies2)
    val (model, index) = Similarity.ivfPqIndex(corpus, "vec_id", "v",
      nlist = 4, m = 8, ksub = 8)
    val probes = base.filter(col("vec_id") < 4)
    def top1(idx: DataFrame): Seq[(Long, Long)] =
      Similarity.knnIvfPqOnIndex(probes, idx, corpus, "vec_id", "v",
        model, k = 1, nprobe = 2, shortlist = 32)
        .select("probe_id", "neighbor_id").as[(Long, Long)]
        .collect().sorted.toSeq
    assert(top1(index) == (0L until 4L).map(i => (i, i + 1000L)))

    val ids = (0L until 4L).map(i => (i + 1000L)).toDF("vec_id")
    val retracted = Similarity.retract(index,
      ids.withColumnRenamed("vec_id", "neighbor_id"))
    val reEncoded = Similarity.indexBatch(
      corpus.filter(col("vec_id") < 1000L || col("vec_id") >= 2000L),
      "vec_id", "v", model)
    assert(sortedRows(retracted.orderBy("neighbor_id")) ==
      sortedRows(reEncoded))
    assert(top1(retracted) == (0L until 4L).map(i => (i, i + 2000L)))

    // persisted: two generations on disk, retract, same row set + answer
    val root = Files.createTempDirectory("retract_index").toString
    val idxDir = s"$root/index"
    Similarity.writeIndexManifest(spark, idxDir, model,
      index.filter(col("neighbor_id") % 2 === 0))
    Manifest.append(spark, idxDir,
      index.filter(col("neighbor_id") % 2 === 1), 0L)
    val removed = Manifest.retract(spark, idxDir,
      ids.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
    assert(removed == 4L)
    val onDisk = Similarity.readIndexManifest(spark, idxDir)._2
    assert(sortedRows(onDisk) == sortedRows(reEncoded))
    assert(top1(onDisk) == (0L until 4L).map(i => (i, i + 2000L)))
  }
}
