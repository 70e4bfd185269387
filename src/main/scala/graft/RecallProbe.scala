package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Manifest, Similarity}

/** Recall-decay → rebuild probe: the MEASURED trigger for
  * [[graft.pipeline.Similarity.rebuildIndexManifest]], whose scaladoc names
  * drift ("recall decays") but — until this probe — no number told an
  * operator WHEN that happens or what the rebuild buys back.
  *
  * Shape: train an IVF-PQ index on the embeddings table, then append
  * `decades` batches of DRIFTED vectors — each decade concentrates
  * around its own novel center direction (the "new topic cluster"
  * regime a frozen quantizer ages under) — via the frozen-model
  * [[Similarity.indexBatch]] append path ([[Manifest.append]]). After
  * each decade, measure recall@k of the on-index search against the
  * exact brute-force scan, with PROBES DRAWN FROM
  * THE DRIFTED DISTRIBUTION (new queries target recent data — the
  * regime that hurts: drifted vectors concentrate in a few stale
  * cells and the PQ codebooks no longer place codewords where the
  * data lives). Finally [[Similarity.rebuildIndexManifest]] retrains on the
  * accumulated corpus and the same last-decade probes re-measure —
  * the recovered recall and the rebuild's cost are the operator's
  * when-to-rebuild numbers.
  *
  * Prints one JSON line (and echoes to recall_probe_out.json):
  * {"probe":"recall","k":…,"nprobe":…,"per_decade":[{"decade":…,
  *  "corpus":…,"recall":…}…],"post_rebuild_recall":…,
  *  "rebuild_sec":…,"sf":…}
  *
  * Run: sbt "runMain graft.RecallProbe"
  * (SPARK_GRAFT_SF_DIR for the embeddings dir, default sf0.1;
  * SPARK_GRAFT_RECALL_DECADES to resize, default 8). */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val decades =
      sys.env.getOrElse("SPARK_GRAFT_RECALL_DECADES", "8").toInt
    val (k, nlist, nprobe, m, ksub, shortlist, dim) =
      (10, 32, 8, 8, 32, 256, 64)
    val spark: SparkSession = LocalSession.get(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))

    // fixed unit jitter direction (deterministic — golden-angle sines)
    val u0 = Array.tabulate(dim)(i => math.sin((i + 1) * 2.39996323))
    val un = math.sqrt(u0.map(x => x * x).sum)
    val u = u0.map(_ / un)

    /** Drift decade `t` of a vector set: pull every vector 70% of the
      * way toward a decade-specific CENTER direction c_t (c_0 = u
      * rotated t·0.4 rad through the coordinate 2-planes) — the
      * "new topic cluster" regime: each decade CONCENTRATES in a
      * region the decade-0 quantizers never saw, which is what ages a
      * frozen index (an isometric rotation was tried and rejected —
      * the base distribution is near-isotropic, so rotating it
      * changes nothing the quantizer sees and recall never decays;
      * a growing additive shift was rejected too — it degenerates
      * all pairwise cosines toward 1 and recall floors for ANY
      * index). Within a decade, 30% of the original variation
      * survives — tight enough that decade-0-trained codebooks can't
      * resolve within-cluster differences (the decay mechanism), loose
      * enough that exact neighborhoods stay well-defined. `jitter` nudges
      * probe vectors off the corpus copies so recall measures
      * neighborhood retrieval, not self-lookup. */
    def drifted(df: DataFrame, t: Int, idOff: Long, jitter: Double)
        : DataFrame = {
      if (t == 0 && jitter == 0.0)
        return df.select(
          (col("vec_id") + idOff).as("vec_id"), col("embedding"))
      // c_t: u rotated t*0.4 rad in each coordinate 2-plane
      val th = 0.4 * t
      val (co, si) = (math.cos(th), math.sin(th))
      val ct = Array.tabulate(dim) { i =>
        val x = u((i / 2) * 2); val y = u((i / 2) * 2 + 1)
        if (i % 2 == 0) x * co - y * si else x * si + y * co
      }
      val nrm = sqrt(aggregate(col("embedding"), lit(0.0),
        (acc, x) => acc + x * x))
      val mixed = array((0 until dim).map { i =>
        element_at(col("embedding"), i + 1) *
          lit(if (t == 0) 1.0 else 0.3) +
          lit(if (t == 0) 0.0 else 0.7) * nrm * lit(ct(i)) +
          lit(jitter * u(i)) * nrm
      }: _*)
      df.select((col("vec_id") + idOff).as("vec_id"),
        mixed.as("embedding"))
    }

    /** recall@k of the on-index search vs the exact scan, averaged
      * over the probe set. */
    def recallAt(probes: DataFrame, index: DataFrame,
        corpus: DataFrame, model: Similarity.IvfPqModel,
        nprobeOverride: Int = 0): Double = {
      val np = if (nprobeOverride > 0) nprobeOverride else nprobe
      val exact = Similarity.knnBrute(probes, corpus, "vec_id",
        "embedding", k).select("probe_id", "neighbor_id")
      val approx = Similarity.knnIvfPqOnIndex(probes, index, corpus,
        "vec_id", "embedding", model, k, np, shortlist, dim)
        .select("probe_id", "neighbor_id")
      val hits = exact.join(approx, Seq("probe_id", "neighbor_id"))
        .count()
      val denom = exact.count()
      if (denom == 0) 0.0 else hits.toDouble / denom
    }

    val root = java.nio.file.Files
      .createTempDirectory("recall_probe").toString
    val idxDir = s"$root/index"
    val (model0, idx0) = Similarity.ivfPqIndex(base, "vec_id",
      "embedding", nlist, m, ksub, dim)
    Similarity.writeIndexManifest(spark, idxDir, model0, idx0)

    def index(): DataFrame = Similarity.readIndexManifest(spark, idxDir)._2

    var corpus = base
    val probeSrc = base.filter(col("vec_id") % 40 === 7)
    val rows = scala.collection.mutable.ArrayBuffer.empty[String]
    // decade 0: the trained-on distribution — the healthy reference
    val r0 = recallAt(drifted(probeSrc, 0, 900000L, 0.02), index(),
      corpus, model0)
    rows += f"""{"decade":0,"corpus":${corpus.count()},"recall":$r0%.3f}"""
    println(s"[recall] decade 0 recall=$r0")

    var lastProbes: DataFrame = null
    (1 to decades).foreach { t =>
      val batch = drifted(base, t, t.toLong * 100000L, 0.0)
      // the frozen-model append path — exactly what a pipeline runs
      Manifest.append(spark, idxDir,
        Similarity.indexBatch(batch, "vec_id", "embedding", model0, dim),
        t.toLong)
      corpus = corpus.unionByName(batch)
      lastProbes = drifted(probeSrc, t, 900000L + t * 10000L, 0.02)
      val r = recallAt(lastProbes, index(), corpus, model0)
      rows += f"""{"decade":$t,"corpus":${corpus.count()},"recall":$r%.3f}"""
      println(s"[recall] decade $t recall=$r")
    }

    // the rebuild: retrain quantizers on the CURRENT corpus, swap —
    // then the SAME probes that measured the decayed number re-measure
    val t0 = System.nanoTime()
    // the rebuild re-sizes BOTH quantizers to the grown corpus
    // (2k -> 18k rows, now ten distinct regions: frozen 32 cells stay
    // crowded and 32 codewords/subspace spread over ten regions
    // resolve none of them) and keeps the probed FRACTION constant —
    // the same parameter-migration the store rebuild gate (q201)
    // exercises
    val model1 = Similarity.rebuildIndexManifest(spark, idxDir, corpus,
      "vec_id", "embedding", nlist * 4, m, ksub * 4, dim)
    val rebuildSec = (System.nanoTime() - t0) / 1e9
    val rAfter = recallAt(lastProbes, index(), corpus, model1,
      nprobeOverride = nprobe * 4)
    println(s"[recall] post-rebuild recall=$rAfter")

    val line =
      f"""{"probe":"recall","k":$k,"nprobe":$nprobe,"nlist":$nlist,"m":$m,"per_decade":${rows.mkString("[", ",", "]")},"post_rebuild_recall":$rAfter%.3f,"rebuild_sec":$rebuildSec%.2f,"sf":"$sfDir"}"""
    println(line)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("recall_probe_out.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: java.io.IOException => () }
    spark.stop()
  }
}
