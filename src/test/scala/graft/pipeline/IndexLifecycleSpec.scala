package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The persisted ANN index as a full-lifecycle artifact
  * ([[Similarity.writeIndexManifest]]/[[Similarity.readIndexManifest]]/
  * [[Similarity.rebuildIndexManifest]]): the (model, codes) pair
  * round-trips one self-contained directory, appends land beside the
  * base, compaction folds them while the model rides through, and a
  * REBUILD (retrain + re-encode + swap) equals a from-scratch build
  * over the current corpus. */
class IndexLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def vec(i: Long): Seq[Double] =
    (0 until 64).map(d => math.sin(i * 64 + d).abs + 0.01)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("writeIndexManifest/readIndexManifest round-trip one " +
      "directory; appends + " +
      "compaction preserve the co-located model; rebuild == " +
      "from-scratch build over the grown corpus") {
    val root = Files.createTempDirectory("index_lifecycle").toString
    val idxDir = s"$root/index"
    val base = (0L until 48L).map(i => (i, vec(i))).toDF("vec_id", "v")
    val copies = (0L until 4L).map(i => (i + 1000L, vec(i)))
      .toDF("vec_id", "v")
    val corpus0 = base.unionByName(copies)
    val probes = base.filter(col("vec_id") < 4)

    // ---- build + persist as one artifact
    val (model0, index0) = Similarity.ivfPqIndex(corpus0, "vec_id",
      "v", nlist = 4, m = 8, ksub = 8)
    Similarity.writeIndexManifest(spark, idxDir, model0, index0)
    val (modelR, codesR) = Similarity.readIndexManifest(spark, idxDir)
    assert(modelR.cents.map(_.toSeq).toSeq ==
      model0.cents.map(_.toSeq).toSeq)
    assert(sortedRows(codesR) == sortedRows(index0))

    def top1(idx: DataFrame, m: Similarity.IvfPqModel,
        corpus: DataFrame): Seq[(Long, Long)] =
      Similarity.knnIvfPqOnIndex(probes, idx, corpus, "vec_id", "v",
        m, k = 1, nprobe = 2, shortlist = 32)
        .select("probe_id", "neighbor_id").as[(Long, Long)]
        .collect().sorted.toSeq
    assert(top1(codesR, modelR, corpus0) ==
      (0L until 4L).map(i => (i, i + 1000L)))

    // ---- append a batch under the frozen model, then compact: the
    // model must ride through the swap
    val batch = (48L until 64L).map(i => (i, vec(i)))
      .toDF("vec_id", "v")
    Manifest.append(spark, idxDir,
      Similarity.indexBatch(batch, "vec_id", "v", modelR), 0L)
    val corpus1 = corpus0.unionByName(batch)
    Similarity.compactIndexManifest(spark, idxDir)
    assert(Manifest.state(spark, idxDir).entries.map(_.value) ==
      Seq(-1L))
    val (modelC, codesC) = Similarity.readIndexManifest(spark, idxDir)
    assert(modelC.cents.map(_.toSeq).toSeq ==
      model0.cents.map(_.toSeq).toSeq)
    assert(top1(codesC, modelC, corpus1) ==
      (0L until 4L).map(i => (i, i + 1000L)))

    // ---- rebuild: retrain on the grown corpus and swap — identical
    // to a from-scratch build (same deterministic sample -> same
    // quantizers -> same cells/codes)
    val model2 = Similarity.rebuildIndexManifest(spark, idxDir, corpus1,
      "vec_id", "v", nlist = 4, m = 8, ksub = 8)
    val (modelB, codesB) = Similarity.readIndexManifest(spark, idxDir)
    val (fresh, freshIdx) = Similarity.ivfPqIndex(corpus1, "vec_id",
      "v", nlist = 4, m = 8, ksub = 8)
    assert(modelB.cents.map(_.toSeq).toSeq ==
      fresh.cents.map(_.toSeq).toSeq)
    assert(model2.cents.map(_.toSeq).toSeq ==
      fresh.cents.map(_.toSeq).toSeq)
    assert(sortedRows(codesB) == sortedRows(freshIdx))
    assert(top1(codesB, modelB, corpus1) ==
      (0L until 4L).map(i => (i, i + 1000L)))
    // no leftovers: one model, one generation, one manifest version
    val names = new java.io.File(idxDir).listFiles().map(_.getName)
    assert(names.count(_.startsWith("model-")) == 1)
    assert(names.count(_.startsWith("gen-")) == 1)
    assert(names.count(_.startsWith("_MANIFEST.v")) == 1)
    assert(new java.io.File(root).listFiles().map(_.getName).toSet
      == Set("index"))
  }
}
