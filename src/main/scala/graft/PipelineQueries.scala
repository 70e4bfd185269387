package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Classifier, Clustering, Curation, Dedup, Manifest, Multimodal, Perplexity, Similarity, TextAnalysis}

/** Training-data pipeline operators exposed through the driver contract:
  * dedup (exact / MinHash+LSH / SimHash / n-gram Jaccard / embedding
  * near-dup), similarity search, and text analysis over the `documents` and
  * `embeddings` tables.
  *
  * Where the testdata has no natural duplicates, a deterministic perturbed
  * copy of every 10th document is unioned in (reproducible in the oracle
  * SQL as well), so the dedup paths are exercised on real positives. */
object PipelineQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame = {
    // the documents parquet is a single input split — spread per-doc text
    // expressions across cores; width sized by input bytes with the
    // CPU-DENSE floor (graft.pipeline.Sizing): these consumers run
    // interpreted per-doc expressions measured at orders of magnitude
    // more CPU per byte than the hash kernels
    val d = Queries.cat(spark, dir)("documents").df
    d.repartition(graft.pipeline.Sizing.parallelism(d,
      graft.pipeline.Sizing.CpuDenseFloorBytes))
  }

  /** The raw documents scan, NO repartition: for consumers that feed
    * the Dedup/Similarity kernels, which repartition internally before
    * their heavy per-row work — routing those through [[docs]] put a
    * redundant exchange (and an AQE stage job) under EVERY corpus
    * branch of every lifecycle gate; the only pre-shuffle expressions
    * on this path (filters, md5 keys, id offsets) are a few µs per
    * row. Heavy per-doc SQL consumers (curation, text analysis) keep
    * using [[docs]]. */
  private def docsRaw(spark: SparkSession, dir: String): DataFrame =
    Queries.cat(spark, dir)("documents").df

  private def embs(spark: SparkSession, dir: String): DataFrame =
    Queries.cat(spark, dir)("embeddings").df

  /** documents ∪ perturbed copies of every 10th doc (planted near-dups). */
  private def corpusWithDups(spark: SparkSession, dir: String): DataFrame = {
    val d = docsRaw(spark, dir).select("doc_id", "text")
    d.unionByName(d.filter(col("doc_id") % 10 === 0).select(
      (col("doc_id") + 1000000).as("doc_id"),
      concat(col("text"), lit(" zz9")).as("text")))
  }

  /** ONE near-dup components pass over [[corpusWithDups]] shared by
    * q66/q181/q182/q192 within a process — the three dedup reports are
    * restatements of the same corpus-scale
    * [[Dedup.clusterEdges]]+[[Dedup.connectedComponents]] work, and a
    * real curation run computes that table once per corpus snapshot
    * and feeds every report from it ([[Dedup.components]] scaladoc).
    * [[Dedup.components]] returns a checkpointed frame, so the memo
    * holds a small materialized (id, comp) table, not live lineage;
    * keyed per (session, dir) so tests with their own sessions and
    * multi-dir runs never cross. Each consumer query stays an
    * independent CORRECTNESS gate (its own oracle recomputes the
    * closure from scratch); only the in-process recompute is shared.
    *
    * Memo mechanics (round-15 advice): the multi-second components job
    * runs in the holder's lazy val, NOT inside the map's bin lock, so
    * concurrent callers for other (session, dir) keys never stall
    * behind it (same-key callers serialize on the holder — the point
    * of the memo); entries for STOPPED sessions are purged lazily on
    * every access (a weak-keyed map can't do this job: the memoized
    * frame itself references its session, so any weak-map value would
    * strongly pin its own key); and [[resetMemo]] is the explicit
    * invalidation hook for a long-lived serve session whose parquet
    * under `dir` was replaced. */
  private final class CompsHolder(compute: () => DataFrame) {
    lazy val frame: DataFrame = compute()
  }
  private val compsMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), CompsHolder]()
  private def memoComponents(spark: SparkSession, dir: String,
      tag: String)(compute: => DataFrame): DataFrame = {
    // drop entries whose session has been stopped — they can never be
    // served again, and they'd otherwise pin the dead session and its
    // checkpoint blocks for the process lifetime
    compsMemo.keySet.removeIf(k => k._1.sparkContext.isStopped)
    // keyed by the SESSION OBJECT (tuple equality falls back to
    // reference equality — SparkSession doesn't override equals), not a
    // hash string: an identity-hash key could collide across sessions
    // and serve one session a frame pinned in another's block manager.
    compsMemo.computeIfAbsent((spark, dir, tag),
      _ => new CompsHolder(() => compute)).frame
  }
  private def sharedComponents(spark: SparkSession, dir: String)
      : DataFrame =
    memoComponents(spark, dir, "full")(
      Dedup.components(corpusWithDups(spark, dir), "doc_id",
        "text", k = 16, bands = 8, shingleN = 3, minJaccard = 0.7))
  /** The OLD-slice (%3 ≠ 2) component table — q200's carried state,
    * memoized under the same (session, dir) discipline so the gate
    * prices the batch-sized merge, not its from-scratch fixture
    * (round-16 advice). The slice is a different corpus than
    * [[sharedComponents]]'s, hence its own tag, never a shared frame. */
  private def sharedOldComponents(spark: SparkSession, dir: String)
      : DataFrame =
    memoComponents(spark, dir, "old")(
      Dedup.components(
        corpusWithDups(spark, dir).filter(col("doc_id") % 3 =!= 2),
        "doc_id", "text", k = 16, bands = 8, shingleN = 3,
        minJaccard = 0.7))

  /** Invalidation hook for the shared-components memo: call after the
    * parquet under a served dir changes (corpus snapshot swap), or —
    * the bench's use — to make a measurement pass memo-cold. Frames
    * already handed out keep working (they're checkpointed); only the
    * next [[sharedComponents]] call recomputes. */
  def resetMemo(): Unit = compsMemo.clear()

  private val CorpusWithDupsSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 1000000 AS doc_id, text || ' zz9' AS text
      |FROM documents WHERE doc_id % 10 = 0""".stripMargin

  /** Shared oracle CTE chain: exact-content min-id collapse (the
    * spec-proven [[Dedup.clusterEdges]] star identity — Jaccard is a
    * function of content alone) + inverted-index shared-shingle
    * candidates (any pair with J ≥ 0.7 shares a 3-shingle, and
    * |a∩b| from the index join gives the identical Jaccard value as
    * list_intersect) + the transitive closure. Replaces the all-pairs
    * `sh a, sh b` cross join that made the q66/q181/q182 oracles
    * quadratic in the corpus (~15 min at sf0.1 → seconds), so the
    * sf0.1 sweep runs exclusion-free. Expects `corpus(doc_id, text)`
    * bound by the caller's WITH RECURSIVE head; yields
    * `comps(id, comp)` over every doc with ≥1 near-dup edge. */
  private val CollapsedClosureSql =
    """keyed AS (SELECT doc_id, md5(text) AS ck FROM corpus),
      |reps AS (SELECT ck, min(doc_id) AS rep FROM keyed GROUP BY ck),
      |star AS (
      |  SELECT r.rep AS id_a, k.doc_id AS id_b
      |  FROM keyed k JOIN reps r USING (ck) WHERE k.doc_id <> r.rep),
      |rc AS (SELECT c.doc_id, c.text FROM corpus c
      |       JOIN reps r ON r.rep = c.doc_id),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, greatest(len(toks)-2, 0)),
      |    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS s
      |  FROM (SELECT doc_id,
      |          string_split_regex(trim(lower(text)), '\s+') AS toks
      |        FROM rc)),
      |ls AS (SELECT doc_id, len(s) AS l FROM sh),
      |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |p AS (
      |  SELECT id_a, id_b FROM inter
      |  JOIN ls la ON la.doc_id = id_a
      |  JOIN ls lb ON lb.doc_id = id_b
      |  WHERE CAST(i AS DOUBLE) / (la.l + lb.l - i) >= 0.7),
      |e AS (
      |  SELECT id_a AS src, id_b AS dst FROM p
      |  UNION SELECT id_b, id_a FROM p
      |  UNION SELECT id_a, id_b FROM star
      |  UNION SELECT id_b, id_a FROM star),
      |reach AS (
      |  SELECT src AS id, dst AS r FROM e
      |  UNION
      |  SELECT reach.id, e.dst FROM reach JOIN e ON e.src = reach.r),
      |comps AS (
      |  SELECT id, least(id, min(r)) AS comp FROM reach
      |  GROUP BY id)""".stripMargin

  // ---------------------------------------------------------------- dedup

  def q20_dedup_exact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(corpusWithDups(spark, dir), "doc_id", "text")
      .orderBy("keep_id")

  val q20_sql: String =
    s"""WITH corpus AS ($CorpusWithDupsSql)
       |SELECT md5(lower(text)) AS text_hash, min(doc_id) AS keep_id,
       |  count(*) AS n_dups
       |FROM corpus GROUP BY text_hash ORDER BY keep_id""".stripMargin

  /** MinHash(16) + LSH(8 bands of 2) candidate pairs, verified with exact
    * 3-shingle Jaccard ≥ 0.7. With r=2/b=8 the LSH miss probability is
    * ~0.35% at j=0.7 and ~4e-9 at the planted pairs' ~0.95, so the
    * all-pairs SQL oracle matches deterministically in practice (at a 0.5
    * threshold, borderline pairs would flake the gate ~10% of the time). */
  def q24_minhash_lsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLsh(corpusWithDups(spark, dir), "doc_id", "text",
      k = 16, bands = 8, shingleN = 3, minJaccard = 0.7)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b")

  // inverted-index pair oracle: any pair at J ≥ 0.7 shares a
  // 3-shingle, and |a∩b| counted off the shingle index gives the
  // IDENTICAL Jaccard as list_intersect — kills the all-pairs cross
  // join that made this oracle quadratic (~15 min at sf0.1 → ~8 s)
  val q24_sql: String =
    s"""WITH corpus AS ($CorpusWithDupsSql),
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    generate_series(1, greatest(len(toks)-2, 0)),
       |    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS s
       |  FROM (SELECT doc_id,
       |          string_split_regex(trim(lower(text)), '\\s+') AS toks
       |        FROM corpus)),
       |ls AS (SELECT doc_id, len(s) AS l FROM sh),
       |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
       |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  round(CAST(i AS DOUBLE) / (la.l + lb.l - i), 6) AS jaccard
       |FROM inter
       |JOIN ls la ON la.doc_id = id_a
       |JOIN ls lb ON lb.doc_id = id_b
       |WHERE CAST(i AS DOUBLE) / (la.l + lb.l - i) >= 0.7
       |ORDER BY id_a, id_b""".stripMargin

  /** n-gram Jaccard of a probe set (doc_id < 50) against the corpus. */
  def q23_jaccard_probe(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    Dedup.ngramJaccardProbe(d.filter(col("doc_id") < 50), d,
      "doc_id", "text", n = 3, threshold = 0.2)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .orderBy("id_a", "id_b")
  }

  val q23_sql: String =
    """WITH sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, greatest(len(toks)-2, 0)),
      |    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS s
      |  FROM (SELECT doc_id,
      |          string_split_regex(trim(lower(text)), '\s+') AS toks
      |        FROM documents))
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |        len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
      |FROM (SELECT * FROM sh WHERE doc_id < 50) a, sh b
      |WHERE a.doc_id != b.doc_id
      |  AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |      len(list_distinct(list_concat(a.s, b.s))) >= 0.2
      |ORDER BY id_a, id_b""".stripMargin

  /** SimHash near-dup recall gate: exact copies of doc_id < 25 are planted
    * (re-keyed +100000); identical texts fingerprint identically, and
    * 16-bit blocking is lossless at hamming ≤ 3, so the pipeline MUST
    * emit every planted (orig, copy) pair at hamming 0 — a deterministic
    * SQL oracle. The output is filtered to the planted pair ids because
    * natural near-dup pairs depend on xxhash bit patterns no SQL engine
    * reproduces; precision on natural pairs is covered by DedupSpec. */
  def q26_simhash(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select("doc_id", "text")
    val planted = d.unionByName(d.filter(col("doc_id") < 25).select(
      (col("doc_id") + 100000).as("doc_id"), col("text")))
    Dedup.simhashPairs(planted, "doc_id", "text", maxHamming = 3)
      .filter(col("id_b") === col("id_a") + 100000)
      .orderBy("id_a", "id_b")
  }

  val q26_sql: String =
    """SELECT doc_id AS id_a, doc_id + 100000 AS id_b,
      |  CAST(0 AS INT) AS hamming
      |FROM documents WHERE doc_id < 25
      |ORDER BY id_a, id_b""".stripMargin

  /** Embedding-cosine near-duplicates, exact pair scan (the LSH-bucketed
    * variant is benchmarked separately). */
  def q27_embed_neardup(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDups(embs(spark, dir), "vec_id", "embedding",
      threshold = 0.35, planes = 0)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("id_a", "id_b")

  val q27_sql: String =
    """WITH v AS (SELECT vec_id, embedding FROM embeddings),
      |s AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    list_sum(list_transform(generate_series(1,64),
      |      i -> CAST(a.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(generate_series(1,64),
      |         i -> CAST(a.embedding[i] AS DOUBLE)*CAST(a.embedding[i] AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(generate_series(1,64),
      |         i -> CAST(b.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE)))))
      |    AS cos
      |  FROM v a, v b WHERE a.vec_id < b.vec_id)
      |SELECT id_a, id_b, round(cos, 6) AS cosine FROM s
      |WHERE cos >= 0.35 ORDER BY id_a, id_b""".stripMargin

  /** LSH-bucketed embedding near-dup — the scale path (planes > 0) — over a
    * corpus with planted exact duplicates: copies of vec_id < 20 re-keyed
    * +100000. Identical vectors produce identical sign signatures, so the
    * bucketed join finds every planted pair regardless of the hyperplane
    * draw; threshold 0.9 sits far above the corpus's natural max pairwise
    * cosine (~0.60 at sf0.1), so the exact answer IS the planted pair list
    * and the all-pairs SQL oracle applies. */
  def q47_embed_lsh(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir).select(col("vec_id"), col("embedding"))
    val planted = e.unionAll(
      e.filter(col("vec_id") < 20)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    Dedup.embeddingNearDups(planted, "vec_id", "embedding",
      threshold = 0.9, planes = 4)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("id_a", "id_b")
  }

  val q47_sql: String =
    """WITH v0 AS (SELECT vec_id, embedding FROM embeddings),
      |v AS (SELECT vec_id, embedding FROM v0
      |      UNION ALL
      |      SELECT vec_id + 100000 AS vec_id, embedding FROM v0
      |      WHERE vec_id < 20),
      |s AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    list_sum(list_transform(generate_series(1,64),
      |      i -> CAST(a.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(generate_series(1,64),
      |         i -> CAST(a.embedding[i] AS DOUBLE)*CAST(a.embedding[i] AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(generate_series(1,64),
      |         i -> CAST(b.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE)))))
      |    AS cos
      |  FROM v a, v b WHERE a.vec_id < b.vec_id)
      |SELECT id_a, id_b, round(cos, 6) AS cosine FROM s
      |WHERE cos >= 0.9 ORDER BY id_a, id_b""".stripMargin

  // ----------------------------------------------------------- similarity

  /** Brute-force cosine top-5 neighbors for probes vec_id < 10. */
  def q25_knn_brute(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Similarity.knnBrute(e.filter(col("vec_id") < 10), e,
      "vec_id", "embedding", k = 5)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("probe_id", "neighbor_id")
  }

  val q25_sql: String =
    """WITH p AS (SELECT vec_id AS pid, embedding AS pv FROM embeddings
      |           WHERE vec_id < 10),
      |c AS (SELECT vec_id AS nid, embedding AS cv FROM embeddings),
      |s AS (
      |  SELECT pid, nid,
      |    list_sum(list_transform(generate_series(1,64),
      |      i -> CAST(pv[i] AS DOUBLE)*CAST(cv[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(generate_series(1,64),
      |         i -> CAST(pv[i] AS DOUBLE)*CAST(pv[i] AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(generate_series(1,64),
      |         i -> CAST(cv[i] AS DOUBLE)*CAST(cv[i] AS DOUBLE)))))
      |    AS cos
      |  FROM p, c WHERE pid != nid),
      |r AS (SELECT pid, nid, cos,
      |        row_number() OVER (PARTITION BY pid
      |                           ORDER BY cos DESC, nid) AS rk
      |      FROM s)
      |SELECT pid AS probe_id, nid AS neighbor_id, round(cos,6) AS cosine
      |FROM r WHERE rk <= 5 ORDER BY probe_id, neighbor_id""".stripMargin

  /** IVF-cell KNN run exhaustively (nprobe == nlist): every cell is
    * scanned, so the result is exactly the brute-force top-k and the q25
    * oracle applies — the cell plumbing (centroid assignment, cell join,
    * per-probe rank) is what's under test; the approximate nprobe < nlist
    * path is recall-checked in SimilaritySpec. */
  def q42_ann_ivf(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Similarity.knnIvf(e.filter(col("vec_id") < 10), e,
      "vec_id", "embedding", k = 5, nlist = 16, nprobe = 16)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("probe_id", "neighbor_id")
  }

  /** LSH-bucketed approximate KNN, gated on planted-neighbor recall:
    * exact copies of probe vectors (vec_id < 10, re-keyed +100000) are
    * planted into the corpus. A copy hashes to the probe's bucket in
    * EVERY table (identical signatures), so it is always a candidate, and
    * at cosine 1.0 it always ranks top-1 (natural max pairwise cosine is
    * ~0.60) — the top-1 result set is deterministic and SQL-expressible.
    * Full recall-vs-brute behavior stays covered in SimilaritySpec. */
  def q28_ann_lsh(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir).select(col("vec_id"), col("embedding"))
    val probes = e.filter(col("vec_id") < 10)
    val corpus = e.unionByName(probes.select(
      (col("vec_id") + 100000).as("vec_id"), col("embedding")))
    Similarity.knnLsh(probes, corpus, "vec_id", "embedding",
      k = 1, planes = 2)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("probe_id", "neighbor_id")
  }

  val q28_sql: String =
    """SELECT vec_id AS probe_id, vec_id + 100000 AS neighbor_id,
      |  CAST(1.0 AS DOUBLE) AS cosine
      |FROM embeddings WHERE vec_id < 10
      |ORDER BY probe_id, neighbor_id""".stripMargin

  /** PQ ANN with the q28 planted-copy gate: an exact copy quantizes to
    * the minimum-possible ADC distance for its probe (its codes minimize
    * every subspace term), so it always survives the shortlist, and the
    * exact re-rank puts it top-1 at cosine 1.0 (natural max pairwise
    * cosine ~0.60) — deterministic and SQL-expressible. Recall-vs-brute
    * behavior stays covered in SimilaritySpec. */
  def q90_ann_pq(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir).select(col("vec_id"), col("embedding"))
    val probes = e.filter(col("vec_id") < 10)
    val corpus = e.unionByName(probes.select(
      (col("vec_id") + 100000).as("vec_id"), col("embedding")))
    Similarity.knnPq(probes, corpus, "vec_id", "embedding",
      k = 1, m = 8, ksub = 16, shortlist = 32)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("probe_id", "neighbor_id")
  }

  val q90_sql: String =
    """SELECT vec_id AS probe_id, vec_id + 100000 AS neighbor_id,
      |  CAST(1.0 AS DOUBLE) AS cosine
      |FROM embeddings WHERE vec_id < 10
      |ORDER BY probe_id, neighbor_id""".stripMargin

  /** IVF-PQ ANN with the planted-copy gate: an exact copy is assigned
    * to the probe's own top-1 cell (identical vector → identical argmax
    * centroid), carries the minimum-possible ADC there, survives the
    * shortlist, and re-ranks top-1 at cosine 1.0 — deterministic at any
    * nprobe. Recall/exhaustive-equivalence stays in SimilaritySpec. */
  def q92_ann_ivfpq(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir).select(col("vec_id"), col("embedding"))
    val probes = e.filter(col("vec_id") < 10)
    val corpus = e.unionByName(probes.select(
      (col("vec_id") + 100000).as("vec_id"), col("embedding")))
    Similarity.knnIvfPq(probes, corpus, "vec_id", "embedding",
      k = 1, nlist = 16, nprobe = 4, m = 8, ksub = 16, shortlist = 32)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("probe_id", "neighbor_id")
  }

  /** IVF-PQ through the PERSISTED index ([[Similarity.ivfPqIndex]] +
    * [[Similarity.knnIvfPqOnIndex]]): the q92 scenario with the index
    * built as the stored artifact and queried separately — the oracle
    * is q92's verbatim, so the on-index path must answer the
    * identical top-1 set (same sample → same quantizers → same
    * cells/codes/ADC/re-rank). */
  def q194_ann_index(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir).select(col("vec_id"), col("embedding"))
    val probes = e.filter(col("vec_id") < 10)
    val corpus = e.unionByName(probes.select(
      (col("vec_id") + 100000).as("vec_id"), col("embedding")))
    val (model, index) = Similarity.ivfPqIndex(corpus, "vec_id",
      "embedding", nlist = 16, m = 8, ksub = 16)
    // index frame built in-process two lines up under this same model —
    // the serving-loop discipline (width-guard scaladoc): skip the
    // index-wide validation scan
    Similarity.knnIvfPqOnIndex(probes, index, corpus, "vec_id",
      "embedding", model, k = 1, nprobe = 4, shortlist = 32,
      checkWidths = false)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("probe_id", "neighbor_id")
  }

  /** The frozen-model index-APPEND lifecycle, gated end-to-end
    * ([[Similarity.indexBatch]]): the model trains ONCE on batch 1,
    * then batches 2 and 3 are quantized under it (no re-train) and
    * their code rows appended — the continuous-ingest shape of a
    * persisted ANN index. The q92 planted-copy construction makes the
    * gate deterministic under ANY model: an identical vector lands in
    * the probe's own top-1 cell with the minimum-possible ADC
    * (per-subspace argmin code = per-subspace LUT argmin), survives
    * the shortlist, and re-ranks exactly at cosine 1.0. The planted
    * ids (100000+i, i<10) spread across all three residue classes, so
    * every appended batch's rows are load-bearing — an append that
    * dropped or mis-celled a batch loses its copies and fails. */
  def q196_index_append(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir).select(col("vec_id"), col("embedding"))
    val probes = e.filter(col("vec_id") < 10)
    val corpus = e.unionByName(probes.select(
      (col("vec_id") + 100000).as("vec_id"), col("embedding")))
    val b1 = corpus.filter(col("vec_id") % 3 === 0)
    val b2 = corpus.filter(col("vec_id") % 3 === 1)
    val b3 = corpus.filter(col("vec_id") % 3 === 2)
    val (model, idx1) = Similarity.ivfPqIndex(b1, "vec_id",
      "embedding", nlist = 16, m = 8, ksub = 16)
    val idx = idx1
      .unionByName(Similarity.indexBatch(b2, "vec_id", "embedding",
        model))
      .unionByName(Similarity.indexBatch(b3, "vec_id", "embedding",
        model))
    // all three append encodes ran in-process under the one frozen
    // model — skip the index-wide validation scan (serving-loop
    // discipline; the disk round-trip gates q202/q204 keep it)
    Similarity.knnIvfPqOnIndex(probes, idx, corpus, "vec_id",
      "embedding", model, k = 1, nprobe = 4, shortlist = 32,
      checkWidths = false)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("probe_id", "neighbor_id")
  }

  val q92_sql: String =
    """SELECT vec_id AS probe_id, vec_id + 100000 AS neighbor_id,
      |  CAST(1.0 AS DOUBLE) AS cosine
      |FROM embeddings WHERE vec_id < 10
      |ORDER BY probe_id, neighbor_id""".stripMargin

  /** Retraction (un-keep) from the persisted ANN index
    * ([[Similarity.retract]]) — the late-decontamination / takedown
    * path, gated end-to-end: TWO exact copies of every probe are
    * planted (+1e5 and +2e5), the +1e5 set is retracted, and top-1
    * must fall to the +2e5 copy at cosine 1.0. Load-bearing by the
    * ranking's own tie-break: equal scores resolve to the LOWER
    * neighbor_id (the shortlist's struct order), so a no-op retraction
    * deterministically answers +1e5 and fails the gate. The corpus
    * frame still carries the retracted rows (only the INDEX forgets
    * them), proving candidates come from the index alone. */
  def q198_index_retract(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir).select(col("vec_id"), col("embedding"))
    val probes = e.filter(col("vec_id") < 10)
    val corpus = e
      .unionByName(probes.select(
        (col("vec_id") + 100000).as("vec_id"), col("embedding")))
      .unionByName(probes.select(
        (col("vec_id") + 200000).as("vec_id"), col("embedding")))
    val (model, index) = Similarity.ivfPqIndex(corpus, "vec_id",
      "embedding", nlist = 16, m = 8, ksub = 16)
    val retracted = Similarity.retract(index,
      probes.select((col("vec_id") + 100000).as("neighbor_id")))
    Similarity.knnIvfPqOnIndex(probes, retracted, corpus, "vec_id",
      "embedding", model, k = 1, nprobe = 4, shortlist = 32,
      checkWidths = false)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("probe_id", "neighbor_id")
  }

  val q198_sql: String =
    """SELECT vec_id AS probe_id, vec_id + 200000 AS neighbor_id,
      |  CAST(1.0 AS DOUBLE) AS cosine
      |FROM embeddings WHERE vec_id < 10
      |ORDER BY probe_id, neighbor_id""".stripMargin

  /** The frozen-model index-append lifecycle through the MANIFEST
    * layout ([[Similarity.writeIndexManifest]] — model and code rows
    * live together under one committed `_MANIFEST`, the
    * object-store-safe form of q196's artifact): model trains once on
    * batch 1 and commits WITH batch 1's rows in one swap, batches 2
    * and 3 append under the frozen model via [[Manifest.append]], a
    * compaction between them folds the generations (the `@model`
    * property rides through), and the query runs off
    * [[Similarity.readIndexManifest]]'s round-trip. q92's
    * planted-copy construction keeps the gate deterministic under any
    * model; a manifest losing an append, the model, or a generation
    * in the compaction fails the cosine-1.0 rows. */
  def q204_manifest_index(spark: SparkSession, dir: String)
      : DataFrame = {
    val e = embs(spark, dir).select(col("vec_id"), col("embedding"))
    val probes = e.filter(col("vec_id") < 10)
    val corpus = e.unionByName(probes.select(
      (col("vec_id") + 100000).as("vec_id"), col("embedding")))
    val b1 = corpus.filter(col("vec_id") % 3 === 0)
    val b2 = corpus.filter(col("vec_id") % 3 === 1)
    val b3 = corpus.filter(col("vec_id") % 3 === 2)
    val root = tempLifecycleDir("q204_manifest_index")
    val idxDir = s"$root/index"
    val (model, idx1) = Similarity.ivfPqIndex(b1, "vec_id",
      "embedding", nlist = 16, m = 8, ksub = 16)
    Similarity.writeIndexManifest(spark, idxDir, model, idx1)
    Manifest.append(spark, idxDir,
      Similarity.indexBatch(b2, "vec_id", "embedding", model), 0L)
    Similarity.compactIndexManifest(spark, idxDir)
    Manifest.append(spark, idxDir,
      Similarity.indexBatch(b3, "vec_id", "embedding", model), 1L)
    val (model2, idx) = Similarity.readIndexManifest(spark, idxDir)
    Similarity.knnIvfPqOnIndex(probes, idx, corpus, "vec_id",
      "embedding", model2, k = 1, nprobe = 4, shortlist = 32)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("probe_id", "neighbor_id")
  }

  /** SemDeDup at the driver gate: clones of vec_id < 20 planted
    * (+100000); identical vectors share a k-means cell at any nlist
    * (and collapse to one rep in [[Similarity.semanticClusterEdges]] —
    * the round-14 rewire after the 100× embeddings probe measured the
    * within-cell scan going quadratic inside identical-vector
    * cliques), so the construction finds exactly the planted clones
    * (natural max pairwise cosine ~0.60), and the cluster-cleaned
    * corpus is the original table — a deterministic census oracle.
    * Subset-of-exact and recall behavior stays in SimilaritySpec. */
  def q93_semdedup(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir).select(col("vec_id"), col("embedding"))
    val planted = e.unionByName(e.filter(col("vec_id") < 20).select(
      (col("vec_id") + 100000).as("vec_id"), col("embedding")))
    val edges = Similarity.semanticClusterEdges(planted, "vec_id",
      "embedding", threshold = 0.9, nlist = 16)
    Dedup.clusterDeduped(planted, "vec_id", edges)
      .agg(count(lit(1)).as("n_docs"), min(col("vec_id")).as("min_id"),
        max(col("vec_id")).as("max_id"))
  }

  val q93_sql: String =
    """SELECT count(*) AS n_docs, min(vec_id) AS min_id,
      |  max(vec_id) AS max_id
      |FROM embeddings""".stripMargin

  /** Exact-substring dedup (Lee et al. ExactSubstr): every duplicated
    * >= 8-token region is removed from all but its first (id, pos)
    * occurrence. The planted copies (orig text + " zz9") lose their whole
    * copied prefix and keep the one novel token; originals are first
    * occurrences and pass through. The oracle replays the identical
    * rank-and-merge algorithm over gram STRINGS (the engine ranks hashes —
    * value-identical absent a 2⁻⁶⁴ collision). */
  def q94_substring_dedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.removeRepeatedSubstrings(corpusWithDups(spark, dir),
      "doc_id", "text", k = 8)
      .orderBy("doc_id")

  val q94_sql: String =
    s"""WITH corpus AS ($CorpusWithDupsSql),
       |tok AS (SELECT doc_id,
       |    string_split_regex(trim(lower(text)), '\\s+') AS t FROM corpus),
       |g AS (SELECT doc_id,
       |    unnest(generate_series(1, len(t) - 7)) AS i, t FROM tok),
       |r AS (SELECT doc_id, i - 1 AS pos,
       |    row_number() OVER (PARTITION BY array_to_string(t[i : i+7], ' ')
       |      ORDER BY doc_id, i) AS rn,
       |    count(*) OVER (PARTITION BY array_to_string(t[i : i+7], ' '))
       |      AS cnt
       |  FROM g),
       |d AS (SELECT doc_id, pos FROM r WHERE cnt >= 2 AND rn > 1),
       |l AS (SELECT doc_id, pos,
       |    CASE WHEN lag(pos) OVER w IS NULL
       |      OR pos - lag(pos) OVER w > 8 THEN 1 ELSE 0 END AS brk
       |  FROM d WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |isl AS (SELECT doc_id, pos,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM l),
       |sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e
       |  FROM isl GROUP BY doc_id, grp),
       |st AS (SELECT doc_id, count(*) AS n_spans, sum(e - s) AS removed
       |  FROM sp GROUP BY doc_id),
       |tp AS (SELECT doc_id, unnest(generate_series(1, len(t))) - 1 AS p,
       |    t FROM tok),
       |kept AS (SELECT tp.doc_id, tp.p, tp.t[tp.p + 1] AS tk FROM tp
       |  WHERE NOT EXISTS (SELECT 1 FROM sp
       |    WHERE sp.doc_id = tp.doc_id AND tp.p >= sp.s AND tp.p < sp.e)),
       |cl AS (SELECT doc_id, string_agg(tk, ' ' ORDER BY p) AS text_clean
       |  FROM kept GROUP BY doc_id)
       |SELECT tok.doc_id, coalesce(cl.text_clean, '') AS text_clean,
       |  CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_spans,
       |  CAST(coalesce(st.removed, 0) AS BIGINT) AS removed_tokens,
       |  CAST(len(tok.t) - coalesce(st.removed, 0) AS BIGINT)
       |    AS kept_tokens
       |FROM tok LEFT JOIN st ON tok.doc_id = st.doc_id
       |LEFT JOIN cl ON tok.doc_id = cl.doc_id
       |ORDER BY tok.doc_id""".stripMargin

  /** CCNet-style LM quality triage: bigram LM trained on the English
    * slice, every doc scored by smoothed cross-entropy, corpus split into
    * head/middle/tail perplexity terciles. The oracle replays the full
    * closed-form model — counts, Laplace floors, chain-rule events, ntile
    * — in SQL; ntile ordering uses the ROUNDED ppl (+doc_id tiebreak) so
    * last-ulp summation differences between engines cannot flip a
    * boundary assignment. */
  def q95_perplexity(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val model = Perplexity.train(d.filter(col("lang") === "en"),
      "doc_id", "text")
    val scored = Perplexity.score(d, "doc_id", "text", model)
      .withColumn("ppl", round(col("ppl"), 4))
    Perplexity.bucketExact(scored, "doc_id", nBuckets = 3)
      .select(col("doc_id"), col("n_tokens"), col("ppl"), col("bucket"))
      .orderBy("doc_id")
  }

  val q95_sql: String =
    """WITH tok AS (SELECT doc_id, lang,
      |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
      |      x -> len(x) > 0) AS t
      |  FROM documents),
      |uc AS (SELECT w, count(*) AS c FROM (
      |    SELECT unnest(t) AS w FROM tok WHERE lang = 'en') GROUP BY w),
      |tot AS (SELECT sum(c) AS n, count(*) + 1 AS v FROM uc),
      |bc AS (SELECT g, count(*) AS c FROM (
      |    SELECT t[i] || ' ' || t[i+1] AS g
      |    FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
      |          FROM tok WHERE lang = 'en')) GROUP BY g),
      |ev AS (
      |  SELECT doc_id, 'u' AS k, t[1] AS g, '' AS u FROM tok
      |  WHERE len(t) >= 1
      |  UNION ALL
      |  SELECT doc_id, 'b', t[i] || ' ' || t[i+1], t[i]
      |  FROM (SELECT doc_id, t,
      |          unnest(generate_series(1, len(t) - 1)) AS i FROM tok)),
      |sc AS (
      |  SELECT e.doc_id,
      |    CASE WHEN e.k = 'u'
      |      THEN ln((coalesce(uc1.c, 0) + 1.0) / (tot.n + tot.v))
      |      ELSE CASE WHEN bc.c IS NOT NULL
      |        THEN ln((bc.c + 1.0) / (ucx.c + tot.v))
      |        ELSE ln(1.0 / (coalesce(ucx.c, 0) + tot.v)) END
      |    END AS lp
      |  FROM ev e
      |  CROSS JOIN tot
      |  LEFT JOIN uc uc1 ON e.k = 'u' AND uc1.w = e.g
      |  LEFT JOIN bc ON e.k = 'b' AND bc.g = e.g
      |  LEFT JOIN uc ucx ON e.k = 'b' AND ucx.w = e.u),
      |agg AS (SELECT doc_id, count(*) AS n_tokens,
      |    -sum(lp) / count(*) AS h FROM sc GROUP BY doc_id),
      |p AS (SELECT doc_id, n_tokens, round(exp(h), 4) AS ppl FROM agg)
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, ppl,
      |  CAST(ntile(3) OVER (ORDER BY ppl, doc_id) AS INT) AS bucket
      |FROM p ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- text

  def q21_text_stats(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val toks = TextAnalysis.tokens(t)
    docs(spark, dir).select(
      col("doc_id"),
      TextAnalysis.tokenCount(t).as("n_tokens_ws"),
      TextAnalysis.bpeishTokenCount(t).as("n_tokens_bpeish"),
      length(t).cast("long").as("n_chars_actual"),
      round(when(size(toks) === 0, 0.0).otherwise(
        aggregate(toks, lit(0L), (a, x) => a + length(x)).cast("double") /
          size(toks)), 6).as("mean_token_len"))
      .orderBy("doc_id")
  }

  val q21_sql: String =
    """SELECT doc_id,
      |  len(string_split_regex(trim(lower(text)), '\s+')) AS n_tokens_ws,
      |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
      |    AS n_tokens_bpeish,
      |  CAST(length(text) AS BIGINT) AS n_chars_actual,
      |  round(CAST(list_sum(list_transform(
      |      string_split_regex(trim(lower(text)), '\s+'),
      |      t -> length(t))) AS DOUBLE) /
      |    len(string_split_regex(trim(lower(text)), '\s+')), 6)
      |    AS mean_token_len
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Quality facets aggregated per source. */
  def q22_quality(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val facets = TextAnalysis.qualityFacets(t).toMap
    docs(spark, dir)
      .select(col("source"),
        facets("stopword_ratio").as("sw"),
        facets("punct_ratio").as("pr"),
        TextAnalysis.qualityScore(t).as("q"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("sw")), 6).as("avg_stopword_ratio"),
        round(avg(col("pr")), 6).as("avg_punct_ratio"),
        round(avg(col("q")), 6).as("avg_quality"))
      .orderBy("source")
  }

  val q22_sql: String = {
    val en = TextAnalysis.LangProfiles("en")
      .map(w => s"'$w'").mkString(", ")
    s"""WITH f AS (
       |  SELECT source,
       |    string_split_regex(trim(lower(text)), '\\s+') AS toks,
       |    CAST(length(text) AS DOUBLE) AS n_chars,
       |    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
       |      AS DOUBLE) AS punct,
       |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
       |      AS DOUBLE) AS digits
       |  FROM documents),
       |g AS (
       |  SELECT source,
       |    CAST(len(list_filter(toks, t -> t IN ($en))) AS DOUBLE)
       |      / len(toks) AS sw,
       |    punct / n_chars AS pr,
       |    CAST(len(toks) AS DOUBLE) AS n_tokens,
       |    CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
       |      / len(toks) AS mtl,
       |    digits / n_chars AS dr
       |  FROM f)
       |SELECT source, count(*) AS n_docs,
       |  round(avg(sw), 6) AS avg_stopword_ratio,
       |  round(avg(pr), 6) AS avg_punct_ratio,
       |  round(avg((
       |    (CASE WHEN n_tokens >= 10 AND n_tokens <= 10000
       |       THEN 1.0 ELSE 0.0 END) +
       |    (CASE WHEN mtl >= 3 AND mtl <= 12 THEN 1.0 ELSE 0.0 END) +
       |    (CASE WHEN pr <= 0.1 THEN 1.0 ELSE 0.0 END) +
       |    (CASE WHEN dr <= 0.2 THEN 1.0 ELSE 0.0 END)) / 4), 6)
       |    AS avg_quality
       |FROM g GROUP BY source ORDER BY source""".stripMargin
  }

  /** Winnowing fingerprints over md5 shingle hashes: md5 (unlike
    * xxhash64's engine-specific bit patterns) is bit-identical in any SQL
    * engine, so the fingerprint VALUES gate against the DuckDB oracle —
    * shingle hashes ride one imperative pass, the winnowing window-min
    * runs through the public Column op. The xxhash64-based fast path
    * stays covered by TextAnalysisSpec. */
  def q29_fingerprint(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.md5ShingleFrame(docs(spark, dir), "doc_id", "text")
      .select(col("id").as("doc_id"),
        TextAnalysis.winnowFromHashes(col("hashes")).as("fp"))
      .select(col("doc_id"), size(col("fp")).as("fp_size"),
        array_min(col("fp")).as("fp_min"))
      .orderBy("doc_id")

  val q29_sql: String =
    """WITH sh AS (
      |  SELECT doc_id, list_transform(
      |    generate_series(1, greatest(len(toks)-2, 0)),
      |    i -> md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS hs
      |  FROM (SELECT doc_id,
      |          string_split_regex(trim(lower(text)), '\s+') AS toks
      |        FROM documents)),
      |fp AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, greatest(len(hs)-3, 1)),
      |    i -> list_min(hs[i:i+3]))) AS f
      |  FROM sh)
      |SELECT doc_id, CAST(len(f) AS INT) AS fp_size, list_min(f) AS fp_min
      |FROM fp ORDER BY doc_id""".stripMargin

  /** Multimodal plumbing at the driver gate: documents' text bytes stand in
    * for opaque media payloads; the frame-sample explode (the per-frame
    * fan-out shape of real video pipelines) emits one row per 16-byte
    * pseudo-frame with byte length + content digest. Text is pure ASCII in
    * the testdata, so DuckDB's char-based substr/md5 equals Spark's
    * byte-based slicing — a full hash oracle over the stub pipeline. */
  def q45_multimodal(spark: SparkSession, dir: String): DataFrame = {
    val media = docs(spark, dir).select(col("doc_id"),
      col("text").cast("binary").as("payload"))
    media.select(col("doc_id"),
      posexplode(Multimodal.frameSampleStub(col("payload"), n = 4))
        .as(Seq("frame_idx", "frame")))
      .select(col("doc_id"),
        col("frame_idx").cast("long").as("frame_idx"),
        length(col("frame")).cast("long").as("frame_len"),
        md5(col("frame")).as("frame_md5"))
      .orderBy("doc_id", "frame_idx")
  }

  val q45_sql: String =
    """WITH idx AS (SELECT unnest(generate_series(0, 3)) AS frame_idx),
      |f AS (
      |  SELECT doc_id, frame_idx,
      |    substr(text, CAST(frame_idx * 16 + 1 AS INT), 16) AS frame
      |  FROM documents CROSS JOIN idx)
      |SELECT doc_id, frame_idx, length(frame) AS frame_len,
      |  md5(frame) AS frame_md5
      |FROM f ORDER BY doc_id, frame_idx""".stripMargin

  /** Language-ID at the driver gate: the testdata corpus is English, so a
    * deterministic planted row per non-English profile (de/es/fr, a CJK
    * line, and a stopword-free line) exercises every branch of the
    * heuristic. Oracle replicates the same stopword-ratio math; Spark's
    * greatest-of-(score, lang) structs is mirrored by the window's
    * ORDER BY score DESC, lang DESC. */
  def q63_langid(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val planted = Seq(
      (2000001L, "der hund und die katze ist nicht auf dem tisch mit der"),
      (2000002L, "el perro y la casa es una historia que en un libro por"),
      (2000003L, "le chat et la maison est dans une rue que pour le matin"),
      (2000004L, "漢字漢字漢字漢字漢字"),
      (2000005L, "zzz qqq xxx kkk www")).toDF("doc_id", "text")
    val corpus = docs(spark, dir).select("doc_id", "text")
      .unionByName(planted)
    corpus
      .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_id"))
      .orderBy("lang")
  }

  val q63_sql: String = {
    val profiles = TextAnalysis.LangProfiles.toSeq.sortBy(_._1)
    val arms = profiles.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""SELECT doc_id, '$lang' AS lang,
         |    CASE WHEN len(tk) = 0 THEN 0.0
         |         ELSE CAST(len(list_filter(tk, t -> list_contains($lst, t)))
         |              AS DOUBLE) / len(tk) END AS score
         |  FROM toks""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT CAST(doc_id AS BIGINT), text FROM (VALUES
       |    (2000001, 'der hund und die katze ist nicht auf dem tisch mit der'),
       |    (2000002, 'el perro y la casa es una historia que en un libro por'),
       |    (2000003, 'le chat et la maison est dans une rue que pour le matin'),
       |    (2000004, '漢字漢字漢字漢字漢字'),
       |    (2000005, 'zzz qqq xxx kkk www')) AS t(doc_id, text)),
       |toks AS (
       |  SELECT doc_id,
       |    string_split_regex(trim(lower(text)), '\\s+') AS tk,
       |    length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g'))
       |      AS cjk,
       |    length(text) AS n
       |  FROM corpus),
       |scored AS (
       |  $arms),
       |best AS (
       |  SELECT doc_id, lang, score, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
       |  FROM scored),
       |lng AS (
       |  SELECT t.doc_id,
       |    CASE WHEN t.cjk * 2 > t.n THEN 'zh'
       |         WHEN b.score > 0 THEN b.lang
       |         ELSE 'und' END AS lang
       |  FROM toks t JOIN best b ON b.doc_id = t.doc_id AND b.rn = 1)
       |SELECT lang, count(*) AS n, min(doc_id) AS first_id
       |FROM lng GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Near-dup CLUSTERS at the driver gate: the scale-correct
    * [[Dedup.clusterEdges]] (exact-content star + LSH pairs over
    * distinct contents — round 13, after the 100× probe measured the
    * all-pairs band join going quadratic inside exact-dup cliques) fed
    * through connected components. Components are provably identical
    * to the all-pairs construction; the oracle replays the
    * collapse+closure via [[CollapsedClosureSql]] (the identity is
    * spec-proven in DedupSpec), so the sf0.1 sweep runs it without
    * exclusion. */
  def q66_dedup_clusters(spark: SparkSession, dir: String): DataFrame =
    // identical construction to Dedup.components over the same corpus
    // and thresholds — the fourth consumer of the shared pass
    sharedComponents(spark, dir).orderBy("id")

  val q66_sql: String =
    s"""WITH RECURSIVE corpus AS ($CorpusWithDupsSql),
       |$CollapsedClosureSql
       |SELECT id, comp FROM comps ORDER BY id""".stripMargin

  /** Cleaned-corpus output at the driver gate: exactDeduped keeps the
    * smallest-id representative per normalized text — the frame a
    * training pipeline feeds downstream. */
  def q67_dedup_cleaned(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactDeduped(corpusWithDups(spark, dir), "doc_id", "text")
      .select("doc_id", "text")
      .orderBy("doc_id")

  val q67_sql: String =
    s"""WITH corpus AS ($CorpusWithDupsSql),
       |keep AS (
       |  SELECT min(doc_id) AS doc_id FROM corpus
       |  GROUP BY md5(lower(text)))
       |SELECT c.doc_id, c.text FROM corpus c
       |JOIN keep k ON k.doc_id = c.doc_id
       |ORDER BY c.doc_id""".stripMargin

  /** Corpus-frequency boilerplate removal: 10-word chunks appearing in
    * more than 2 distinct documents are dropped and every document is
    * rebuilt from its surviving chunks — the corpusWithDups near-dup
    * copies make real cross-document repeats. Output is md5(text) so the
    * compare stays narrow. */
  def q72_boilerplate(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.scrubBoilerplate(corpusWithDups(spark, dir), "doc_id",
      "text", chunkWords = 10, maxDocs = 2)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .orderBy("doc_id")

  val q72_sql: String =
    s"""WITH corpus AS ($CorpusWithDupsSql),
       |w AS (
       |  -- parallel unnests zip in DuckDB: word with its 1-based index
       |  SELECT doc_id,
       |    unnest(string_split(text, ' ')) AS word,
       |    unnest(generate_series(1, len(string_split(text, ' ')))) AS i
       |  FROM corpus),
       |c AS (
       |  SELECT doc_id, (i - 1) // 10 AS cno,
       |         string_agg(word, ' ' ORDER BY i) AS chunk
       |  FROM w GROUP BY 1, 2),
       |freq AS (
       |  SELECT chunk, count(DISTINCT doc_id) AS nd FROM c GROUP BY 1),
       |kept AS (
       |  SELECT c.doc_id, c.cno, c.chunk FROM c
       |  JOIN freq f ON f.chunk = c.chunk WHERE f.nd <= 2)
       |SELECT doc_id,
       |  md5(string_agg(chunk, ' ' ORDER BY cno)) AS h
       |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** PII scrub: emails / IPv4s / phone-shaped runs planted onto each
    * document become typed placeholders; both engines run the identical
    * portable regexes. */
  def q73_pii_scrub(spark: SparkSession, dir: String): DataFrame = {
    val planted = docs(spark, dir).select(col("doc_id"),
      concat(col("text"),
        lit(" contact u"), col("doc_id").cast("string"),
        lit("@example.com from 10.0."),
        (col("doc_id") % 256).cast("string"),
        lit(".17 tel +1 555 01"),
        (col("doc_id") % 90 + 10).cast("string")).as("text"))
    planted.select(col("doc_id"),
        md5(TextAnalysis.scrubPii(col("text"))).as("h"))
      .orderBy("doc_id")
  }

  val q73_sql: String =
    """WITH planted AS (
      |  SELECT doc_id,
      |    text || ' contact u' || CAST(doc_id AS VARCHAR)
      |      || '@example.com from 10.0.'
      |      || CAST(doc_id % 256 AS VARCHAR)
      |      || '.17 tel +1 555 01'
      |      || CAST(doc_id % 90 + 10 AS VARCHAR) AS text
      |  FROM documents)
      |SELECT doc_id, md5(
      |  regexp_replace(
      |    regexp_replace(
      |      regexp_replace(text,
      |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
      |        '<EMAIL>', 'g'),
      |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
      |    '\+?\d{1,3}[ -]\d{3}[ -]\d{3,4}([ -]\d{1,4})?', '<PHONE>', 'g'))
      |  AS h
      |FROM planted ORDER BY doc_id""".stripMargin

  /** Benchmark decontamination at the driver gate: every 97th document
    * plays the eval set; the corpus (with its planted near-dup copies)
    * is swept for 13-gram overlap. Bench docs flag themselves, their
    * exact-dup copies flag transitively, and docs shorter than 13 tokens
    * (the testdata floor is 10) exercise the no-gram edge. */
  def q74_decontam(spark: SparkSession, dir: String): DataFrame = {
    val bench = docs(spark, dir).filter(col("doc_id") % 97 === 0)
    Curation.contaminationHits(corpusWithDups(spark, dir), "doc_id",
      "text", bench, "text", n = 13)
      .orderBy("doc_id")
  }

  val q74_sql: String =
    s"""WITH corpus AS ($CorpusWithDupsSql),
       |bg AS (
       |  SELECT DISTINCT g FROM (
       |    SELECT unnest(list_distinct(list_transform(
       |      generate_series(1, greatest(len(tk) - 12, 0)),
       |      i -> array_to_string(tk[i:i+12], ' ')))) AS g
       |    FROM (SELECT string_split_regex(trim(lower(text)), '\\s+') AS tk
       |          FROM documents WHERE doc_id % 97 = 0))),
       |dg AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, greatest(len(tk) - 12, 0)),
       |    i -> array_to_string(tk[i:i+12], ' ')))) AS g
       |  FROM (SELECT doc_id,
       |          string_split_regex(trim(lower(text)), '\\s+') AS tk
       |        FROM corpus))
       |SELECT doc_id, count(*) AS n_hits
       |FROM dg WHERE g IN (SELECT g FROM bg)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Gopher-style repetition signals: every 20th document gains a
    * self-concatenated twin (+3000000) whose grams all repeat — strong
    * positives next to the natural corpus's near-zero signals. */
  def q75_repetition(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select("doc_id", "text")
    val corpus = d.unionByName(d.filter(col("doc_id") % 20 === 0).select(
      (col("doc_id") + 3000000).as("doc_id"),
      concat(col("text"), lit(" "), col("text")).as("text")))
    Curation.repetitionSignals(corpus, "doc_id", "text", chunkWords = 10)
      .orderBy("doc_id")
  }

  val q75_sql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 3000000 AS doc_id, text || ' ' || text AS text
      |  FROM documents WHERE doc_id % 20 = 0),
      |t AS (SELECT doc_id,
      |        string_split_regex(trim(lower(text)), '\s+') AS tk
      |      FROM corpus),
      |g2 AS (SELECT doc_id, unnest(list_transform(
      |         generate_series(1, greatest(len(tk) - 1, 0)),
      |         i -> array_to_string(tk[i:i+1], ' '))) AS g FROM t),
      |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
      |m2 AS (SELECT doc_id, max(c) AS maxc FROM c2 GROUP BY 1),
      |g3 AS (SELECT doc_id, unnest(list_transform(
      |         generate_series(1, greatest(len(tk) - 2, 0)),
      |         i -> array_to_string(tk[i:i+2], ' '))) AS g FROM t),
      |c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
      |s3 AS (SELECT doc_id,
      |         sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup,
      |         sum(c) AS tot
      |       FROM c3 GROUP BY 1),
      |ch AS (SELECT doc_id, unnest(list_transform(
      |         generate_series(0, CAST((len(tk) + 9) // 10 AS INT) - 1),
      |         c -> array_to_string(tk[c*10+1:c*10+10], ' '))) AS g
      |       FROM t),
      |cc AS (SELECT doc_id, g, count(*) AS c FROM ch GROUP BY 1, 2),
      |sc AS (SELECT doc_id,
      |         sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup,
      |         sum(c) AS tot
      |       FROM cc GROUP BY 1)
      |SELECT t.doc_id,
      |  round(COALESCE(m2.maxc, 0) * 2.0 / len(t.tk), 6)
      |    AS top_2gram_frac,
      |  round(CASE WHEN COALESCE(s3.tot, 0) = 0 THEN 0.0
      |    ELSE CAST(s3.dup AS DOUBLE) / s3.tot END, 6) AS dup_3gram_frac,
      |  round(CASE WHEN COALESCE(sc.tot, 0) = 0 THEN 0.0
      |    ELSE CAST(sc.dup AS DOUBLE) / sc.tot END, 6) AS dup_chunk_frac
      |FROM t
      |LEFT JOIN m2 USING (doc_id)
      |LEFT JOIN s3 USING (doc_id)
      |LEFT JOIN sc USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Overlapping token-window chunking (40-token windows, 8-token
    * overlap → stride 32): the per-sample split a training pipeline
    * feeds the tokenizer. Chunk text gates as md5 so the compare stays
    * narrow. */
  def q76_chunking(spark: SparkSession, dir: String): DataFrame =
    Curation.chunkForTraining(docs(spark, dir), "doc_id", "text",
      maxTokens = 40, overlap = 8)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_tokens"),
        md5(col("chunk_text")).as("h"))
      .orderBy("doc_id", "chunk_idx")

  val q76_sql: String =
    """WITH t AS (SELECT doc_id,
      |        string_split_regex(trim(lower(text)), '\s+') AS tk
      |      FROM documents),
      |n AS (SELECT doc_id, tk,
      |        greatest(CAST(ceil((len(tk) - 8) / 32.0) AS INT), 1) AS nc
      |      FROM t),
      |c AS (SELECT doc_id, tk,
      |        unnest(generate_series(0, nc - 1)) AS chunk_idx
      |      FROM n)
      |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
      |  CAST(len(tk[chunk_idx*32+1 : chunk_idx*32+40]) AS BIGINT)
      |    AS chunk_tokens,
      |  md5(array_to_string(tk[chunk_idx*32+1 : chunk_idx*32+40], ' '))
      |    AS h
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  /** Deterministic domain-mixing sample: per-source keep fractions over
    * the md5-derived uniform — the same rows survive in any engine, so
    * the full per-source census gates exactly. */
  def q77_mixing(spark: SparkSession, dir: String): DataFrame =
    Curation.stratifiedSample(docs(spark, dir), "source", "doc_id",
      Map("src0" -> 0.8, "src1" -> 0.5, "src2" -> 0.25),
      defaultFraction = 0.1)
      .groupBy("source")
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy("source")

  val q77_sql: String =
    """WITH s AS (
      |  SELECT * FROM documents
      |  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
      |          AS BIGINT) / 4294967296.0
      |    < CASE source WHEN 'src0' THEN 0.8 WHEN 'src1' THEN 0.5
      |        WHEN 'src2' THEN 0.25 ELSE 0.1 END)
      |SELECT source, count(*) AS n, min(doc_id) AS min_id,
      |  max(doc_id) AS max_id
      |FROM s GROUP BY source ORDER BY source""".stripMargin

  /** Temperature-scaled domain mixing end-to-end: p_d ∝ n_d^(1/2) keep
    * fractions against a 250-row budget, applied through the portable
    * md5-uniform sample — fractions AND the realized per-source census
    * both gate (the oracle recomputes pow/sum/least in SQL). */
  def q96_temp_mix(spark: SparkSession, dir: String): DataFrame = {
    val s = spark
    import s.implicits._
    val d = docs(spark, dir)
    val fr = Curation.temperatureMixFractions(d, "source",
      temperature = 2.0, budgetRows = 250)
    val kept = Curation.stratifiedSample(d, "source", "doc_id", fr)
      .groupBy("source").agg(count(lit(1)).as("n_kept"))
    d.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(broadcast(fr.toSeq.toDF("source", "frac")), Seq("source"))
      .join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"), round(col("frac"), 6)
        .as("frac"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy("source")
  }

  val q96_sql: String =
    """WITH c AS (SELECT source, count(*) AS n FROM documents
      |  GROUP BY source),
      |f AS (SELECT source, n,
      |    least(1.0, 250 * (pow(n, 0.5) / (SELECT sum(pow(n, 0.5))
      |      FROM c)) / n) AS frac FROM c),
      |k AS (SELECT d.source, count(*) AS n_kept
      |  FROM documents d JOIN f ON d.source = f.source
      |  WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
      |          AS BIGINT) / 4294967296.0 < f.frac
      |  GROUP BY d.source)
      |SELECT f.source, CAST(f.n AS BIGINT) AS n_docs,
      |  round(f.frac, 6) AS frac,
      |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
      |FROM f LEFT JOIN k ON f.source = k.source
      |ORDER BY f.source""".stripMargin

  /** Incremental ingestion dedup: a NEW batch (fresh docs ∪ perturbed
    * copies of kept docs, the q24 planting idiom) matched against the
    * KEPT corpus with cross-corpus MinHash+LSH. Thresholds per q24's
    * determinism argument: r=2/b=8 misses ~0.35% at j=0.7 and ~4e-9 at
    * the planted pairs' ~0.95, so the all-pairs oracle matches. */
  def q97_cross_dedup(spark: SparkSession, dir: String): DataFrame = {
    val d = docsRaw(spark, dir).select("doc_id", "text")
    val kept = d.filter(col("doc_id") % 10 =!= 0)
    val batch = d.filter(col("doc_id") % 10 === 0)
      .unionByName(d.filter(col("doc_id") % 20 === 1).select(
        (col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" zz9")).as("text")))
    Dedup.crossCorpusPairs(batch, kept, "doc_id", "text",
      k = 16, bands = 8, shingleN = 3, minJaccard = 0.7)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .select("new_id", "kept_id", "jaccard")
      .orderBy("new_id", "kept_id")
  }

  /** Incremental dedup via the persisted signature store
    * ([[Dedup.signatureStore]] + [[Dedup.crossCorpusPairsFromStore]]):
    * the q97 scenario with the kept side reduced to its (id, sh, sig)
    * store — the kept TEXT is never read. The oracle is q97's
    * verbatim: the store path must produce the identical verified
    * pair set. */
  def q193_dedup_store(spark: SparkSession, dir: String): DataFrame = {
    val d = docsRaw(spark, dir).select("doc_id", "text")
    val kept = d.filter(col("doc_id") % 10 =!= 0)
    val batch = d.filter(col("doc_id") % 10 === 0)
      .unionByName(d.filter(col("doc_id") % 20 === 1).select(
        (col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" zz9")).as("text")))
    // persisted: stands in for the MATERIALIZED parquet store a
    // pipeline reads (the gate builds it inline for determinism; the
    // band join + two re-attaches read it three times)
    val store = Dedup.signatureStore(kept, "doc_id", "text",
      k = 16, shingleN = 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup.crossCorpusPairsFromStore(batch, "doc_id", "text", store,
      k = 16, bands = 8, shingleN = 3, minJaccard = 0.7)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .select("new_id", "kept_id", "jaccard")
      .orderBy("new_id", "kept_id")
  }

  /** The incremental-ingest LIFECYCLE, gated end-to-end
    * ([[Dedup.ingestBatch]]): three batches arrive in order; batch 1
    * seeds the [[Dedup.signatureStore]], each later batch dedups
    * against the CURRENT store and appends its survivors' signature
    * rows. The load-bearing rows are b3's planted copies of b2
    * ORIGINALS (+2e6): their sources entered the store only via the
    * batch-2 APPEND, so a no-append implementation keeps them and
    * fails the gate. b3 also plants copies of b1 docs (+3e6, proving
    * the ORIGINAL store rows still match) and b2 plants copies of b1
    * docs (+1e6, the plain q97 shape). The oracle replays the
    * sequential rule from scratch over text — exact shingle Jaccard
    * via the inverted-index idiom (non-quadratic), survivors of batch
    * n matched against b1 ∪ survivors(b2) exactly as the store
    * accumulates them. Natural near-dup pairs in the corpus all sit
    * at J ≥ 0.8 (measured), where the r=2/b=8 LSH miss probability is
    * ≤ 3e-4 — the q24/q97 determinism argument. */
  def q195_ingest_lifecycle(spark: SparkSession, dir: String)
      : DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val d = docsRaw(spark, dir).select("doc_id", "text")
    def planted(m: Long, off: Long): DataFrame =
      d.filter(col("doc_id") % 30 === m).select(
        (col("doc_id") + off).as("doc_id"),
        concat(col("text"), lit(" zz9")).as("text"))
    val b1 = d.filter(col("doc_id") % 3 === 0)
    val b2 = d.filter(col("doc_id") % 3 === 1)
      .unionByName(planted(0L, 1000000L))
    val b3 = d.filter(col("doc_id") % 3 === 2)
      .unionByName(planted(1L, 2000000L))
      .unionByName(planted(6L, 3000000L))
    // each store generation persisted: the next batch's band join plus
    // two candidate re-attaches read it three times (q193's note), and
    // store2's appended rows would otherwise recompute the batch-2
    // anti-join per read
    val store1 = Dedup.signatureStore(b1, "doc_id", "text",
        k = 16, shingleN = 3)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (s2raw, store2) = Dedup.ingestBatch(store1, b2, "doc_id",
      "text", k = 16, bands = 8, shingleN = 3, minJaccard = 0.7)
    // survivors feed BOTH the store append and the output union —
    // unpersisted, the batch-2 anti-join match would run twice more
    val s2 = s2raw.persist(StorageLevel.MEMORY_AND_DISK)
    val store2p = store2.persist(StorageLevel.MEMORY_AND_DISK)
    // batch 2 validated this store's widths; batch 3 reads the SAME
    // in-process frame grown by our own append — the hot-loop
    // discipline the width-guard scaladoc documents (skip the
    // store-wide re-scan per batch)
    val (s3, _) = Dedup.ingestBatch(store2p, b3, "doc_id", "text",
      k = 16, bands = 8, shingleN = 3, minJaccard = 0.7,
      checkWidths = false)
    b1.select(col("doc_id"), lit(1L).as("batch"))
      .unionByName(s2.select(col("doc_id"), lit(2L).as("batch")))
      .unionByName(s3.select(col("doc_id"), lit(3L).as("batch")))
      .orderBy("batch", "doc_id")
  }

  val q195_sql: String =
    """WITH b1 AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
      |b2 AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text || ' zz9' AS text
      |  FROM documents WHERE doc_id % 30 = 0),
      |b3 AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2
      |  UNION ALL
      |  SELECT doc_id + 2000000 AS doc_id, text || ' zz9' AS text
      |  FROM documents WHERE doc_id % 30 = 1
      |  UNION ALL
      |  SELECT doc_id + 3000000 AS doc_id, text || ' zz9' AS text
      |  FROM documents WHERE doc_id % 30 = 6),
      |alld AS (
      |  SELECT doc_id, text, 1 AS bt FROM b1
      |  UNION ALL SELECT doc_id, text, 2 AS bt FROM b2
      |  UNION ALL SELECT doc_id, text, 3 AS bt FROM b3),
      |sh AS (
      |  SELECT doc_id, bt, list_distinct(list_transform(
      |    generate_series(1, greatest(len(toks)-2, 0)),
      |    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS s
      |  FROM (SELECT doc_id, bt,
      |          string_split_regex(trim(lower(text)), '\s+') AS toks
      |        FROM alld)),
      |ls AS (SELECT doc_id, bt, len(s) AS l FROM sh),
      |ex AS (SELECT doc_id, bt, unnest(s) AS g FROM sh),
      |inter AS (
      |  SELECT n.doc_id AS nid, n.bt AS nb, e.doc_id AS kid,
      |    e.bt AS kb, count(*) AS i
      |  FROM ex n JOIN ex e ON n.g = e.g AND n.bt > e.bt
      |  GROUP BY 1, 2, 3, 4),
      |p AS (
      |  SELECT nid, nb, kid, kb FROM inter
      |  JOIN ls la ON la.doc_id = inter.nid AND la.bt = inter.nb
      |  JOIN ls lb ON lb.doc_id = inter.kid AND lb.bt = inter.kb
      |  WHERE CAST(i AS DOUBLE) / (la.l + lb.l - i) >= 0.7),
      |s2 AS (
      |  SELECT doc_id FROM b2 WHERE doc_id NOT IN (
      |    SELECT nid FROM p WHERE nb = 2 AND kb = 1)),
      |s3 AS (
      |  SELECT doc_id FROM b3 WHERE doc_id NOT IN (
      |    SELECT nid FROM p WHERE nb = 3 AND (kb = 1 OR
      |      (kb = 2 AND kid IN (SELECT doc_id FROM s2)))))
      |SELECT doc_id, CAST(1 AS BIGINT) AS batch FROM b1
      |UNION ALL SELECT doc_id, CAST(2 AS BIGINT) AS batch FROM s2
      |UNION ALL SELECT doc_id, CAST(3 AS BIGINT) AS batch FROM s3
      |ORDER BY batch, doc_id""".stripMargin

  /** Retraction (un-keep) from the dedup signature store
    * ([[Dedup.retract]]) gated end-to-end — the late-decontamination /
    * takedown path: the kept corpus' store loses its %40==1 docs, then
    * a batch arrives planting copies of ALL %20==1 docs (ids ≡ 1 and
    * ≡ 21 mod 40 — both residues kept before the retraction). Copies
    * whose source was RETRACTED must survive — nothing in the
    * retracted store matches them — while copies of still-kept
    * sources drop, and the batch's %10==0 originals drop only on
    * natural near-dups to the remaining kept corpus. The oracle
    * rebuilds the store side from the surviving corpus (retract ≡
    * rebuild — the operator contract RetractionSpec proves row-level)
    * with the non-quadratic inverted-index Jaccard idiom, so the
    * sweep stays exclusion-free. */
  def q197_retract_store(spark: SparkSession, dir: String)
      : DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val d = docsRaw(spark, dir).select("doc_id", "text")
    val kept = d.filter(col("doc_id") % 10 =!= 0)
    val store = Dedup.signatureStore(kept, "doc_id", "text",
      k = 16, shingleN = 3)
    val retracted = Dedup.retract(store,
        kept.filter(col("doc_id") % 40 === 1).select("doc_id"),
        "doc_id")
      // persisted: the band join + two candidate re-attaches read the
      // store three times (q193's note)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val batch = d.filter(col("doc_id") % 10 === 0)
      .unionByName(d.filter(col("doc_id") % 20 === 1).select(
        (col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" zz9")).as("text")))
    Dedup.dedupAgainstStore(batch, "doc_id", "text", retracted,
      k = 16, bands = 8, shingleN = 3, minJaccard = 0.7)
      .select("doc_id").orderBy("doc_id")
  }

  val q197_sql: String =
    """WITH kept AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE doc_id % 10 != 0 AND doc_id % 40 != 1),
      |batch AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text || ' zz9' AS text
      |  FROM documents WHERE doc_id % 20 = 1),
      |alld AS (
      |  SELECT doc_id, text, 0 AS side FROM kept
      |  UNION ALL SELECT doc_id, text, 1 AS side FROM batch),
      |sh AS (
      |  SELECT doc_id, side, list_distinct(list_transform(
      |    generate_series(1, greatest(len(toks)-2, 0)),
      |    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS s
      |  FROM (SELECT doc_id, side,
      |          string_split_regex(trim(lower(text)), '\s+') AS toks
      |        FROM alld)),
      |ls AS (SELECT doc_id, side, len(s) AS l FROM sh),
      |ex AS (SELECT doc_id, side, unnest(s) AS g FROM sh),
      |inter AS (
      |  SELECT n.doc_id AS nid, k.doc_id AS kid, count(*) AS i
      |  FROM ex n JOIN ex k ON n.g = k.g AND n.side = 1 AND k.side = 0
      |  GROUP BY 1, 2),
      |p AS (
      |  SELECT nid FROM inter
      |  JOIN ls la ON la.doc_id = inter.nid AND la.side = 1
      |  JOIN ls lb ON lb.doc_id = inter.kid AND lb.side = 0
      |  WHERE CAST(i AS DOUBLE) / (la.l + lb.l - i) >= 0.7)
      |SELECT doc_id FROM batch
      |WHERE doc_id NOT IN (SELECT nid FROM p)
      |ORDER BY doc_id""".stripMargin

  /** Temp roots for the on-disk lifecycle gates. The returned frame
    * reads these files lazily until the caller's action, so an eager
    * delete would break the plan — instead retention is BOUNDED: the
    * queue keeps the newest 8 roots and deletes older ones on the
    * next allocation (every consumer — Verify, Bench, a serve
    * request — materializes a gate's result before 8 further gate
    * invocations occur), and ONE shutdown hook sweeps whatever
    * remains. A per-invocation hook + exit-only cleanup would leak a
    * few store-MB per call and a thread per hook in a long-lived
    * serve process. */
  private val lifecycleDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }
  private lazy val lifecycleHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      lifecycleDirs.forEach(p => deleteRecursively(p.toFile))))
    ()
  }
  private def tempLifecycleDir(tag: String): String = {
    lifecycleHook
    val p = java.nio.file.Files.createTempDirectory(tag)
    lifecycleDirs.add(p)
    while (lifecycleDirs.size > 8)
      Option(lifecycleDirs.poll()).foreach(p => deleteRecursively(p.toFile))
    p.toString
  }

  /** The q195 ingest lifecycle driven through PERSISTED artifacts with
    * a COMPACTION between batches — the shared body of q199 and q203
    * ([[manifestCompactedLifecycle]]). */
  def q199_compacted_lifecycle(spark: SparkSession, dir: String)
      : DataFrame =
    manifestCompactedLifecycle(spark, dir, "q199_lifecycle")

  /** Incremental components maintenance gated end-to-end
    * ([[Dedup.incrementalComponents]]): the corpus arrives in two
    * batches; the OLD slice's component table and signature store are
    * the carried state, the new batch contributes only its own edges
    * (within-batch [[Dedup.clusterEdges]] + rep-collapsed store cross
    * pairs), and the merged table must be ROW-IDENTICAL to the
    * from-scratch closure over the full corpus — q66's oracle
    * verbatim. Load-bearing: the planted +1e6 copies of %30==2 docs
    * sit in the BATCH while their sources sit in OLD, so dropping the
    * cross edges (or the prev star) splits those components and fails
    * the hash. The historical text is never re-hashed — only the
    * store's (id, sh, sig) rows and the (id, comp) star ride in. */
  def q200_incremental_components(spark: SparkSession, dir: String)
      : DataFrame = {
    val c = corpusWithDups(spark, dir)
    val old = c.filter(col("doc_id") % 3 =!= 2)
    val batch = c.filter(col("doc_id") % 3 === 2)
    val prev = sharedOldComponents(spark, dir)
    val store = Dedup.signatureStore(old, "doc_id", "text",
      k = 16, shingleN = 3)
    Dedup.incrementalComponents(prev, store, batch, "doc_id", "text",
        k = 16, bands = 8, shingleN = 3, minJaccard = 0.7)
      .orderBy("id")
  }

  /** The store REBUILD verb (parameter migration) gated end-to-end —
    * the one lifecycle step q195–q199 didn't cover: the q195
    * construction runs its first two batches at k=16, then the
    * persisted store is rebuilt at k=32 ([[Manifest.rebuild]] over a
    * re-hashed [[Dedup.signatureStore]] — changing k invalidates every
    * stored signature) from the current kept corpus, and batch 3
    * ingests against the REBUILT store at the new parameters
    * (bands=16 keeps r=2, so the LSH miss bound only tightens: (1−0.8²)¹⁶ ≈ 8e-8 at the corpus' J ≥ 0.8 natural
    * pairs). The oracle is q195's verbatim — the sequential exact-
    * Jaccard rule is parameter-free, so rebuild-then-ingest must
    * answer exactly what continuing at the old store would have.
    * Load-bearing twice over: a rebuild that didn't re-hash leaves a
    * k=16 store that the width guard REFUSES at k=32 (the query
    * errors), and one that dropped rows lets b3's planted copies
    * (+2e6 of batch-2 survivors, +3e6 of batch-1 docs) through. */
  def q201_rebuild_store(spark: SparkSession, dir: String)
      : DataFrame = {
    val d = docsRaw(spark, dir).select("doc_id", "text")
    def planted(m: Long, off: Long): DataFrame =
      d.filter(col("doc_id") % 30 === m).select(
        (col("doc_id") + off).as("doc_id"),
        concat(col("text"), lit(" zz9")).as("text"))
    val b1 = d.filter(col("doc_id") % 3 === 0)
    val b2 = d.filter(col("doc_id") % 3 === 1)
      .unionByName(planted(0L, 1000000L))
    val b3 = d.filter(col("doc_id") % 3 === 2)
      .unionByName(planted(1L, 2000000L))
      .unionByName(planted(6L, 3000000L))
    val root = tempLifecycleDir("q201_rebuild")
    val storeDir = s"$root/store"
    Manifest.append(spark, storeDir,
      Dedup.signatureStore(b1, "doc_id", "text", k = 16, shingleN = 3),
      -1L)
    def store(): DataFrame = Manifest.rows(spark, storeDir).drop("batch")
    // batch-2 survivors land ON DISK: the rebuild below garbage-collects
    // the k=16 store files this plan's lineage reads, so the result
    // this query returns — executed lazily by its consumer — must not
    // depend on them
    Dedup.dedupAgainstStore(b2, "doc_id", "text", store(),
        k = 16, bands = 8, shingleN = 3, minJaccard = 0.7)
      .write.parquet(s"$root/s2")
    val s2 = spark.read.parquet(s"$root/s2")
    Manifest.append(spark, storeDir,
      Dedup.signatureStore(s2, "doc_id", "text", k = 16, shingleN = 3),
      0L)
    // the migration: re-hash the CURRENT kept corpus (b1 + batch-2
    // survivors) at the new k, commit it as the one base generation
    Manifest.rebuild(spark, storeDir, Dedup.signatureStore(
      b1.unionByName(s2), "doc_id", "text", k = 32, shingleN = 3))
    val s3 = Dedup.dedupAgainstStore(b3, "doc_id", "text", store(),
      k = 32, bands = 16, shingleN = 3, minJaccard = 0.7)
    b1.select(col("doc_id"), lit(1L).as("batch"))
      .unionByName(s2.select(col("doc_id"), lit(2L).as("batch")))
      .unionByName(s3.select(col("doc_id"), lit(3L).as("batch")))
      .orderBy("batch", "doc_id")
  }

  /** The index REBUILD verb (quantizer retrain) gated end-to-end
    * ([[Similarity.rebuildIndexManifest]]): the persisted index is first
    * built WITHOUT the planted copies, then the corpus gains an exact
    * copy of every probe (+1e5) and the index is rebuilt from the
    * current corpus — retrain + full re-encode + swap. The query runs
    * over the ROUND-TRIPPED artifacts ([[Similarity.readIndexManifest]] —
    * both the new model and the new code rows come back off disk), so
    * a rebuild that didn't swap leaves an index with no copy rows and
    * top-1 falls to a natural neighbor (max natural cosine ~0.60,
    * q93's measurement) — failing the cosine-1.0 oracle. */
  def q202_rebuild_index(spark: SparkSession, dir: String)
      : DataFrame = {
    val e = embs(spark, dir).select(col("vec_id"), col("embedding"))
    val probes = e.filter(col("vec_id") < 10)
    val root = tempLifecycleDir("q202_rebuild_index")
    val idxDir = s"$root/index"
    val (model0, idx0) = Similarity.ivfPqIndex(e, "vec_id",
      "embedding", nlist = 16, m = 8, ksub = 16)
    Similarity.writeIndexManifest(spark, idxDir, model0, idx0)
    val corpus = e.unionByName(probes.select(
      (col("vec_id") + 100000).as("vec_id"), col("embedding")))
    Similarity.rebuildIndexManifest(spark, idxDir, corpus, "vec_id",
      "embedding", nlist = 16, m = 8, ksub = 16)
    val (model, idx) = Similarity.readIndexManifest(spark, idxDir)
    Similarity.knnIvfPqOnIndex(probes, idx, corpus, "vec_id",
      "embedding", model, k = 1, nprobe = 4, shortlist = 32)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("probe_id", "neighbor_id")
  }

  /** The same compacted lifecycle as q199, registered under its own
    * name and lifecycle directory. */
  def q203_manifest_lifecycle(spark: SparkSession, dir: String)
      : DataFrame =
    manifestCompactedLifecycle(spark, dir, "q203_manifest")

  /** The q195 ingest lifecycle through [[Manifest]] artifacts
    * (immutable `gen-` directories, one conditionally-created manifest
    * version per commit, no rename anywhere) with a COMPACTION between
    * batches: batch 1 seeds the on-disk store, batch 2's survivors
    * append their signature rows and kept docs, BOTH artifacts are
    * compacted to a single base generation, and batch 3 dedups against
    * the COMPACTED store. The oracle is q195's verbatim — compacted ≡
    * accumulated: a compaction that dropped rows lets b3's +2e6 copies
    * of batch-2 survivors through (their matches lived only in the
    * folded append); one that duplicated rows duplicates output rows.
    * Either fails the gate. */
  private def manifestCompactedLifecycle(spark: SparkSession,
      dir: String, dirName: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val d = docsRaw(spark, dir).select("doc_id", "text")
    def planted(m: Long, off: Long): DataFrame =
      d.filter(col("doc_id") % 30 === m).select(
        (col("doc_id") + off).as("doc_id"),
        concat(col("text"), lit(" zz9")).as("text"))
    val b1 = d.filter(col("doc_id") % 3 === 0)
    val b2 = d.filter(col("doc_id") % 3 === 1)
      .unionByName(planted(0L, 1000000L))
    val b3 = d.filter(col("doc_id") % 3 === 2)
      .unionByName(planted(1L, 2000000L))
      .unionByName(planted(6L, 3000000L))
    val root = tempLifecycleDir(dirName)
    val storeDir = s"$root/store"
    val outDir = s"$root/out"
    Manifest.append(spark,
      storeDir, Dedup.signatureStore(b1, "doc_id", "text",
        k = 16, shingleN = 3), -1L)
    def store(): DataFrame =
      Manifest.rows(spark, storeDir).drop("batch")
    val s2 = Dedup.dedupAgainstStore(b2, "doc_id", "text", store(),
        k = 16, bands = 8, shingleN = 3, minJaccard = 0.7)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      Manifest.append(spark, outDir,
        s2.select(col("doc_id"), lit(2L).as("lifecycle")), 0L)
      Manifest.append(spark, storeDir,
        Dedup.signatureStore(s2, "doc_id", "text", k = 16,
          shingleN = 3), 0L)
    } finally { s2.unpersist(); () }
    Manifest.compact(spark, storeDir)
    Manifest.compact(spark, outDir)
    // the s2 ingest validated these same rows; the compaction between
    // preserves the row set exactly (CompactionSpec) — hot-loop
    // discipline: skip the per-batch store-wide width re-scan
    val s3 = Dedup.dedupAgainstStore(b3, "doc_id", "text", store(),
      k = 16, bands = 8, shingleN = 3, minJaccard = 0.7,
      checkWidths = false)
    Manifest.append(spark, outDir,
      s3.select(col("doc_id"), lit(3L).as("lifecycle")), 1L)
    b1.select(col("doc_id"), lit(1L).as("batch"))
      .unionByName(Manifest.rows(spark, outDir)
        .select(col("doc_id"), col("lifecycle").as("batch")))
      .orderBy("batch", "doc_id")
  }

  /** The takedown lifecycle gated end-to-end through the MANIFEST
    * layout (every manifest swap a conditional CREATE, the commit
    * primitive stores without any rename offer; ManifestSpec proves
    * it under a rename-rejecting FS, this gate proves it at data scale
    * against the DuckDB oracle): seed, ingest batch 2,
    * compact both artifacts, REBUILD the store at k=32 from the full
    * kept corpus (parameter migration), RETRACT the %30==6 seed docs
    * (store-side takedown — their kept docs live with the seed's
    * owner, outside outDir), then ingest batch 3 against the rebuilt,
    * retracted store at the new parameters (bands=16 keeps r=2).
    * Load-bearing three ways: b3's +3e6 planted copies of the
    * RETRACTED docs must SURVIVE (their only matches were retracted —
    * a retract that dropped no rows fails the hash on exactly those
    * ids), copies of still-kept sources must drop, and a rebuild that
    * didn't re-hash leaves a k=16 store the width guard refuses at
    * k=32 (the query errors). Retraction runs AFTER the rebuild so
    * the rebuild cannot mask a broken retract. */
  def q205_retract_lifecycle(spark: SparkSession, dir: String)
      : DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val d = docsRaw(spark, dir).select("doc_id", "text")
    def planted(m: Long, off: Long): DataFrame =
      d.filter(col("doc_id") % 30 === m).select(
        (col("doc_id") + off).as("doc_id"),
        concat(col("text"), lit(" zz9")).as("text"))
    val b1 = d.filter(col("doc_id") % 3 === 0)
    val b2 = d.filter(col("doc_id") % 3 === 1)
      .unionByName(planted(0L, 1000000L))
    val b3 = d.filter(col("doc_id") % 3 === 2)
      .unionByName(planted(1L, 2000000L))
      .unionByName(planted(6L, 3000000L))
    val root = tempLifecycleDir("q205_retract")
    val storeDir = s"$root/store"
    val outDir = s"$root/out"
    Manifest.append(spark, storeDir,
      Dedup.signatureStore(b1, "doc_id", "text", k = 16, shingleN = 3),
      -1L)
    def store(): DataFrame =
      Manifest.rows(spark, storeDir).drop("batch")
    val s2 = Dedup.dedupAgainstStore(b2, "doc_id", "text", store(),
        k = 16, bands = 8, shingleN = 3, minJaccard = 0.7)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      Manifest.append(spark, outDir,
        s2.select(col("doc_id"), lit(2L).as("lifecycle")), 0L)
      Manifest.append(spark, storeDir,
        Dedup.signatureStore(s2, "doc_id", "text", k = 16,
          shingleN = 3), 0L)
      Manifest.compact(spark, storeDir)
      Manifest.compact(spark, outDir)
      // parameter migration: re-hash the CURRENT kept corpus at k=32
      Manifest.rebuild(spark, storeDir,
        Dedup.signatureStore(b1.unionByName(s2.select("doc_id", "text")),
          "doc_id", "text", k = 32, shingleN = 3))
      // takedown AFTER the rebuild — the retraction must itself
      // remove the re-hashed rows for the planted copies to survive
      Manifest.retract(spark, storeDir,
        b1.filter(col("doc_id") % 30 === 6).select("doc_id"), "doc_id")
      val s3 = Dedup.dedupAgainstStore(b3, "doc_id", "text", store(),
        k = 32, bands = 16, shingleN = 3, minJaccard = 0.7)
      Manifest.append(spark, outDir,
        s3.select(col("doc_id"), lit(3L).as("lifecycle")), 1L)
    } finally { s2.unpersist(); () }
    b1.filter(col("doc_id") % 30 =!= 6)
      .select(col("doc_id"), lit(1L).as("batch"))
      .unionByName(Manifest.rows(spark, outDir)
        .select(col("doc_id"), col("lifecycle").as("batch")))
      .orderBy("batch", "doc_id")
  }

  /** q195's oracle with the takedown applied: the %30==6 seed docs
    * leave batch 1, and batch 3's dedup no longer sees them (the
    * `kid % 30 != 6` restriction on kb=1 pairs) — so their +3e6
    * planted copies survive. */
  val q205_sql: String =
    """WITH b1 AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
      |b2 AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text || ' zz9' AS text
      |  FROM documents WHERE doc_id % 30 = 0),
      |b3 AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2
      |  UNION ALL
      |  SELECT doc_id + 2000000 AS doc_id, text || ' zz9' AS text
      |  FROM documents WHERE doc_id % 30 = 1
      |  UNION ALL
      |  SELECT doc_id + 3000000 AS doc_id, text || ' zz9' AS text
      |  FROM documents WHERE doc_id % 30 = 6),
      |alld AS (
      |  SELECT doc_id, text, 1 AS bt FROM b1
      |  UNION ALL SELECT doc_id, text, 2 AS bt FROM b2
      |  UNION ALL SELECT doc_id, text, 3 AS bt FROM b3),
      |sh AS (
      |  SELECT doc_id, bt, list_distinct(list_transform(
      |    generate_series(1, greatest(len(toks)-2, 0)),
      |    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS s
      |  FROM (SELECT doc_id, bt,
      |          string_split_regex(trim(lower(text)), '\s+') AS toks
      |        FROM alld)),
      |ls AS (SELECT doc_id, bt, len(s) AS l FROM sh),
      |ex AS (SELECT doc_id, bt, unnest(s) AS g FROM sh),
      |inter AS (
      |  SELECT n.doc_id AS nid, n.bt AS nb, e.doc_id AS kid,
      |    e.bt AS kb, count(*) AS i
      |  FROM ex n JOIN ex e ON n.g = e.g AND n.bt > e.bt
      |  GROUP BY 1, 2, 3, 4),
      |p AS (
      |  SELECT nid, nb, kid, kb FROM inter
      |  JOIN ls la ON la.doc_id = inter.nid AND la.bt = inter.nb
      |  JOIN ls lb ON lb.doc_id = inter.kid AND lb.bt = inter.kb
      |  WHERE CAST(i AS DOUBLE) / (la.l + lb.l - i) >= 0.7),
      |s2 AS (
      |  SELECT doc_id FROM b2 WHERE doc_id NOT IN (
      |    SELECT nid FROM p WHERE nb = 2 AND kb = 1)),
      |s3 AS (
      |  SELECT doc_id FROM b3 WHERE doc_id NOT IN (
      |    SELECT nid FROM p WHERE nb = 3 AND (
      |      (kb = 1 AND kid % 30 != 6) OR
      |      (kb = 2 AND kid IN (SELECT doc_id FROM s2)))))
      |SELECT doc_id, CAST(1 AS BIGINT) AS batch FROM b1
      |WHERE doc_id % 30 != 6
      |UNION ALL SELECT doc_id, CAST(2 AS BIGINT) AS batch FROM s2
      |UNION ALL SELECT doc_id, CAST(3 AS BIGINT) AS batch FROM s3
      |ORDER BY batch, doc_id""".stripMargin

  val q97_sql: String =
    """WITH kept AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 10 != 0),
      |batch AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text || ' zz9' AS text
      |  FROM documents WHERE doc_id % 20 = 1),
      |shk AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, greatest(len(toks)-2, 0)),
      |    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS s
      |  FROM (SELECT doc_id,
      |          string_split_regex(trim(lower(text)), '\s+') AS toks
      |        FROM kept)),
      |shn AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, greatest(len(toks)-2, 0)),
      |    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS s
      |  FROM (SELECT doc_id,
      |          string_split_regex(trim(lower(text)), '\s+') AS toks
      |        FROM batch))
      |SELECT n.doc_id AS new_id, k.doc_id AS kept_id,
      |  round(CAST(len(list_intersect(n.s, k.s)) AS DOUBLE) /
      |        len(list_distinct(list_concat(n.s, k.s))), 6) AS jaccard
      |FROM shn n, shk k
      |WHERE CAST(len(list_intersect(n.s, k.s)) AS DOUBLE) /
      |      len(list_distinct(list_concat(n.s, k.s))) >= 0.7
      |ORDER BY new_id, kept_id""".stripMargin

  /** Hashed TF-IDF feature vectors (sparse triples) for a probe slice,
    * with corpus-wide N and df_t — the text→vector stage ahead of
    * ANN/clustering. The probe filter applies AFTER the stats (it cannot
    * push below the df_t aggregate+join), so weights are
    * corpus-calibrated. */
  def q98_tfidf(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.hashedTfIdf(docs(spark, dir), "doc_id", "text", dim = 64)
      .filter(col("id") % 25 === 0)
      .select(col("id").as("doc_id"), col("dim_idx"),
        round(col("weight"), 6).as("weight"))
      .orderBy("doc_id", "dim_idx")

  val q98_sql: String =
    """WITH tf AS (
      |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
      |  FROM (SELECT doc_id, unnest(string_split_regex(trim(lower(text)),
      |          '\s+')) AS term FROM documents)
      |  GROUP BY doc_id, term),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
      |d AS (SELECT term, CAST(count(*) AS DOUBLE) AS df_t FROM tf
      |      GROUP BY term)
      |SELECT tf.doc_id,
      |  CAST(CAST('0x' || substr(md5(tf.term), 1, 8) AS BIGINT) % 64
      |    AS INT) AS dim_idx,
      |  round(sum(tf.tf * ln((n.n + 1) / (d.df_t + 1))), 6) AS weight
      |FROM tf CROSS JOIN n JOIN d ON tf.term = d.term
      |WHERE tf.doc_id % 25 = 0
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** BM25 ranking of the corpus against a 3-term query — expression-only
    * tf, one broadcast stats row (see TextAnalysis.bm25). Every matching
    * doc is returned ordered by id, so score ties can't flake the gate. */
  def q99_bm25(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25(docs(spark, dir), "doc_id", "text",
      Seq("spark", "vector", "customer"))
      .select(col("id").as("doc_id"), col("dl"),
        round(col("score"), 6).as("score"))
      .orderBy("doc_id")

  val q99_sql: String =
    """WITH base AS (
      |  SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
      |    CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) AS tf0,
      |    CAST(len(list_filter(toks, x -> x = 'vector')) AS DOUBLE) AS tf1,
      |    CAST(len(list_filter(toks, x -> x = 'customer')) AS DOUBLE)
      |      AS tf2
      |  FROM (SELECT doc_id,
      |          string_split_regex(trim(lower(text)), '\s+') AS toks
      |        FROM documents)),
      |s AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
      |    CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
      |    CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
      |    CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
      |  FROM base)
      |SELECT b.doc_id, CAST(b.dl AS BIGINT) AS dl,
      |  round(
      |    ln(1 + (s.n - s.df0 + 0.5) / (s.df0 + 0.5)) * (b.tf0 * 2.2) /
      |      (b.tf0 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl)) +
      |    ln(1 + (s.n - s.df1 + 0.5) / (s.df1 + 0.5)) * (b.tf1 * 2.2) /
      |      (b.tf1 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl)) +
      |    ln(1 + (s.n - s.df2 + 0.5) / (s.df2 + 0.5)) * (b.tf2 * 2.2) /
      |      (b.tf2 + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl)), 6) AS score
      |FROM base b CROSS JOIN s
      |WHERE b.tf0 > 0 OR b.tf1 > 0 OR b.tf2 > 0
      |ORDER BY b.doc_id""".stripMargin

  /** Sequence packing census: the corpus as one id-ordered token stream
    * cut into 512-token training windows (Curation.packSequences'
    * distributed prefix sum). Gates the per-window doc count, token
    * count, and how many docs straddle into the next window — the
    * whole layout, since any offset error shifts every downstream
    * window. Oracle = the same exclusive running sum as a DuckDB window
    * (safe there: DuckDB parallelizes its ORDER BY window; the engine
    * avoids Spark's single-task equivalent by construction). */
  def q87_packing(spark: SparkSession, dir: String): DataFrame = {
    val withTok = docs(spark, dir).select(col("doc_id"),
      size(split(trim(lower(col("text"))), "\\s+")).cast("long")
        .as("tok"))
    Curation.packSequences(withTok, "doc_id", "tok", 512)
      .groupBy("sample_id")
      .agg(count(lit(1)).as("docs"), sum(col("tokens")).as("toks"),
        sum(when(col("end_sample_id") > col("sample_id"), 1L)
          .otherwise(0L)).as("spans"))
      .orderBy("sample_id")
  }

  val q87_sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT)
      |      AS tok
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, tok,
      |    CAST(sum(tok) OVER (ORDER BY doc_id) - tok AS BIGINT)
      |      AS start_off
      |  FROM t)
      |SELECT CAST(start_off // 512 AS BIGINT) AS sample_id,
      |  count(*) AS docs,
      |  CAST(sum(tok) AS BIGINT) AS toks,
      |  CAST(count(*) FILTER (WHERE
      |    (start_off + greatest(tok, 1) - 1) // 512 > start_off // 512)
      |    AS BIGINT) AS spans
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  /** BPE vocabulary induction, stage 1 (the only corpus-scale stage):
    * the word-frequency dictionary the driver-side merge loop trains on
    * (Bpe.train — spec-gated with hand-derived Sennrich fixtures; not
    * SQL-expressible). Top-100 by frequency with a lexicographic
    * tiebreak so the LIMIT boundary is deterministic both sides. */
  def q88_wordfreq(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Bpe.wordFrequencies(docs(spark, dir), "text")
      .orderBy(desc("freq"), asc("word")).limit(100)

  val q88_sql: String =
    """SELECT word, count(*) AS freq FROM (
      |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
      |    AS word
      |  FROM documents)
      |WHERE word <> ''
      |GROUP BY 1 ORDER BY freq DESC, word LIMIT 100""".stripMargin

  /** DSIR importance resampling at the driver gate: target = src0 docs,
    * raw = the whole corpus, hashed unigram+bigram models (512 buckets,
    * Laplace α=1), Gumbel top-25% selection — the per-source census of
    * the selected sample plus its summed weights. The oracle replicates
    * EVERY stage in DuckDB (portable md5 hashing end to end), so
    * feature counts, both smoothed models, the per-doc log ratio, and
    * the Gumbel cut are all value-checked, not just the row count. */
  def q89_dsir(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val raw = d.select(col("doc_id"), col("text"))
    val target = d.filter(col("source") === "src0")
      .select(col("doc_id"), col("text"))
    val w = graft.pipeline.Dsir.importanceWeights(
      raw, "doc_id", "text", target, "text", buckets = 512, alpha = 1.0)
    graft.pipeline.Dsir.resampleTopFrac(w, "doc_id", 0.25)
      .join(d.select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_sel"),
        round(sum(col("logw")), 1).as("w_sel"))
      .orderBy("source")
  }

  val q89_sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(list_concat(
      |    list_filter(tk, x -> x <> ''),
      |    list_transform(generate_series(1, greatest(len(tk) - 1, 0)),
      |      i -> tk[i] || ' ' || tk[i+1]))) AS g
      |  FROM t),
      |f AS (
      |  SELECT doc_id,
      |    CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % 512 AS bucket,
      |    count(*) AS cnt
      |  FROM g GROUP BY 1, 2),
      |tgt AS (SELECT f.* FROM f JOIN documents d USING (doc_id)
      |        WHERE d.source = 'src0'),
      |tb AS (SELECT bucket, sum(cnt) AS c FROM tgt GROUP BY 1),
      |tt AS (SELECT sum(cnt) AS tot FROM tgt),
      |rb AS (SELECT bucket, sum(cnt) AS c FROM f GROUP BY 1),
      |rt AS (SELECT sum(cnt) AS tot FROM f),
      |w AS (
      |  SELECT f.doc_id, sum(f.cnt * (
      |      ln((coalesce(tb.c, 0) + 1.0)
      |         / ((SELECT tot FROM tt) + 512.0))
      |    - ln((rb.c + 1.0) / ((SELECT tot FROM rt) + 512.0)))) AS logw
      |  FROM f LEFT JOIN tb USING (bucket) JOIN rb USING (bucket)
      |  GROUP BY 1),
      |s AS (
      |  SELECT doc_id, logw, logw + (-ln(-ln(
      |    (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
      |       AS BIGINT) + 0.5) / 4294967296.0))) AS score,
      |    row_number() OVER (ORDER BY logw + (-ln(-ln(
      |      (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
      |         AS BIGINT) + 0.5) / 4294967296.0))) DESC, doc_id) AS rn
      |  FROM w),
      |sel AS (SELECT doc_id, logw FROM s
      |        WHERE rn <= (SELECT ceil(0.25 * count(*)) FROM w))
      |SELECT d.source, count(*) AS n_sel, round(sum(sel.logw), 1) AS w_sel
      |FROM sel JOIN documents d USING (doc_id)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Training-shard export manifest: the deterministic (portable
    * md5-hash mod 16) shard layout's per-shard census — the record an
    * independent engine recomputes to verify an export after transport.
    * The physical `shard=K/` write is spec-gated (CurationSpec asserts
    * files match [[Curation.shardOf]] and this manifest). */
  def q91_shards(spark: SparkSession, dir: String): DataFrame = {
    val withTok = docs(spark, dir).select(col("doc_id"),
      size(split(trim(lower(col("text"))), "\\s+")).cast("long")
        .as("tok"))
    Curation.shardManifest(withTok, "doc_id", "tok", 16)
      .orderBy("shard")
  }

  val q91_sql: String =
    """SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
      |    AS BIGINT) % 16 AS shard,
      |  count(*) AS n_docs,
      |  CAST(sum(CAST(len(string_split_regex(trim(lower(text)), '\s+'))
      |    AS BIGINT)) AS BIGINT) AS tok_sum,
      |  min(doc_id) AS min_id, max(doc_id) AS max_id
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** End-to-end curation pipeline at the driver gate. Three planted
    * families each trip exactly one stage: exact copies (+1000000, every
    * 10th doc) fall to dedup, eval-set members (every 97th doc) fall to
    * decontamination, self-concatenated twins (+3000000, every 20th doc,
    * ~every 3-gram duplicated) fall to the repetition gate. Survivors are
    * scrubbed and chunked (40-token windows, 8 overlap); chunk text gates
    * as md5. */
  def q79_curate(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select("doc_id", "text")
    val corpus = d
      .unionByName(d.filter(col("doc_id") % 10 === 0).select(
        (col("doc_id") + 1000000).as("doc_id"), col("text")))
      .unionByName(d.filter(col("doc_id") % 20 === 0).select(
        (col("doc_id") + 3000000).as("doc_id"),
        concat(col("text"), lit(" "), col("text")).as("text")))
    val bench = d.filter(col("doc_id") % 97 === 0)
    Curation.curateCorpus(corpus, "doc_id", "text", bench, "text",
      minQuality = 0.75, maxDup3GramFrac = 0.3,
      decontamN = 13, chunkTokens = 40, chunkOverlap = 8)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_tokens"),
        md5(col("chunk_text")).as("h"))
      .orderBy("doc_id", "chunk_idx")
  }

  val q79_sql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text
      |  FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 3000000 AS doc_id, text || ' ' || text AS text
      |  FROM documents WHERE doc_id % 20 = 0),
      |keep AS (
      |  SELECT min(doc_id) AS doc_id FROM corpus
      |  GROUP BY md5(lower(text))),
      |d1 AS (
      |  SELECT c.doc_id, c.text FROM corpus c
      |  JOIN keep k ON k.doc_id = c.doc_id),
      |bg AS (
      |  SELECT DISTINCT g FROM (
      |    SELECT unnest(list_distinct(list_transform(
      |      generate_series(1, greatest(len(tk) - 12, 0)),
      |      i -> array_to_string(tk[i:i+12], ' ')))) AS g
      |    FROM (SELECT string_split_regex(trim(lower(text)), '\s+') AS tk
      |          FROM documents WHERE doc_id % 97 = 0))),
      |contaminated AS (
      |  SELECT DISTINCT doc_id FROM (
      |    SELECT doc_id, unnest(list_distinct(list_transform(
      |      generate_series(1, greatest(len(tk) - 12, 0)),
      |      i -> array_to_string(tk[i:i+12], ' ')))) AS g
      |    FROM (SELECT doc_id,
      |            string_split_regex(trim(lower(text)), '\s+') AS tk
      |          FROM d1))
      |  WHERE g IN (SELECT g FROM bg)),
      |d2 AS (
      |  SELECT * FROM d1
      |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
      |qf AS (
      |  SELECT doc_id, text,
      |    string_split_regex(trim(lower(text)), '\s+') AS tk,
      |    CAST(length(text) AS DOUBLE) AS n_chars,
      |    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
      |      AS DOUBLE) AS punct,
      |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
      |      AS DOUBLE) AS digits
      |  FROM d2),
      |d3 AS (
      |  SELECT doc_id, text, tk FROM qf
      |  WHERE ((CASE WHEN len(tk) BETWEEN 10 AND 10000
      |            THEN 1.0 ELSE 0.0 END) +
      |         (CASE WHEN CAST(list_sum(list_transform(tk,
      |              t -> length(t))) AS DOUBLE) / len(tk)
      |            BETWEEN 3 AND 12 THEN 1.0 ELSE 0.0 END) +
      |         (CASE WHEN punct / n_chars <= 0.1 THEN 1.0 ELSE 0.0 END) +
      |         (CASE WHEN digits / n_chars <= 0.2 THEN 1.0 ELSE 0.0 END))
      |        / 4 >= 0.75),
      |g3 AS (
      |  SELECT doc_id, unnest(list_transform(
      |    generate_series(1, greatest(len(tk) - 2, 0)),
      |    i -> array_to_string(tk[i:i+2], ' '))) AS g
      |  FROM d3),
      |c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
      |rep AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
      |      / sum(c) AS dup3
      |  FROM c3 GROUP BY 1),
      |d4 AS (
      |  SELECT d3.doc_id, d3.text FROM d3
      |  JOIN rep ON rep.doc_id = d3.doc_id
      |  WHERE rep.dup3 <= 0.3),
      |scrubbed AS (
      |  SELECT doc_id,
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(text,
      |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
      |          '<EMAIL>', 'g'),
      |        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
      |      '\+?\d{1,3}[ -]\d{3}[ -]\d{3,4}([ -]\d{1,4})?', '<PHONE>', 'g')
      |      AS text
      |  FROM d4),
      |t AS (SELECT doc_id,
      |        string_split_regex(trim(lower(text)), '\s+') AS tk
      |      FROM scrubbed),
      |n AS (SELECT doc_id, tk,
      |        greatest(CAST(ceil((len(tk) - 8) / 32.0) AS INT), 1) AS nc
      |      FROM t),
      |c AS (SELECT doc_id, tk,
      |        unnest(generate_series(0, nc - 1)) AS chunk_idx
      |      FROM n)
      |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
      |  CAST(len(tk[chunk_idx*32+1 : chunk_idx*32+40]) AS BIGINT)
      |    AS chunk_tokens,
      |  md5(array_to_string(tk[chunk_idx*32+1 : chunk_idx*32+40], ' '))
      |    AS h
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  /** FastText-style quality/domain classifier at the driver gate: train
    * closed-form log-count-ratio weights (512 hashed unigram+bigram
    * buckets, Laplace α=1) on the doc_id%5≠4 split labeled non-en vs en,
    * score the held-out %5=4 split, and report the confusion census with
    * summed scores. The oracle replays EVERY stage — feature hashing,
    * both class models, the smoothing floor for unseen buckets, the doc
    * prior, the per-doc score — in DuckDB, so the weights themselves are
    * value-checked, not just the predictions. */
  def q109_classifier(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val labeled = d.filter(col("doc_id") % 5 =!= 4)
      .select(col("doc_id"), col("text"),
        when(col("lang") =!= "en", 1).otherwise(0).as("y"))
    val model = graft.pipeline.Classifier.logCountRatio(
      labeled, "doc_id", "text", "y", buckets = 512)
    val held = d.filter(col("doc_id") % 5 === 4)
    graft.pipeline.Classifier.score(
        held.select("doc_id", "text"), "doc_id", "text", model)
      .join(held.select(col("doc_id"),
        (col("lang") =!= "en").cast("int").as("actual")), "doc_id")
      .groupBy((col("score") > 0).cast("int").as("predicted"),
        col("actual"))
      .agg(count(lit(1)).as("n"), round(sum(col("score")), 1).as("score_sum"))
      .orderBy("predicted", "actual")
  }

  val q109_sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(list_concat(
      |    list_filter(tk, x -> x <> ''),
      |    list_transform(generate_series(1, greatest(len(tk) - 1, 0)),
      |      i -> tk[i] || ' ' || tk[i+1]))) AS g
      |  FROM t),
      |f AS (
      |  SELECT doc_id,
      |    CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % 512 AS bucket,
      |    count(*) AS cnt
      |  FROM g GROUP BY 1, 2),
      |lab AS (
      |  SELECT doc_id, CASE WHEN lang <> 'en' THEN 1 ELSE 0 END AS y
      |  FROM documents WHERE doc_id % 5 <> 4),
      |lf AS (SELECT f.*, lab.y FROM f JOIN lab USING (doc_id)),
      |cls AS (SELECT y, sum(cnt) AS tot FROM lf GROUP BY 1),
      |dc AS (SELECT y, count(*) AS docs FROM lab GROUP BY 1),
      |wt AS (
      |  SELECT bucket,
      |    ln((sum(CASE WHEN y = 1 THEN cnt ELSE 0 END) + 1.0)
      |       / ((SELECT tot FROM cls WHERE y = 1) + 512.0))
      |  - ln((sum(CASE WHEN y = 0 THEN cnt ELSE 0 END) + 1.0)
      |       / ((SELECT tot FROM cls WHERE y = 0) + 512.0)) AS r
      |  FROM lf GROUP BY 1),
      |sc0 AS (
      |  SELECT f.doc_id,
      |    sum(f.cnt * coalesce(wt.r,
      |        ln(1.0 / ((SELECT tot FROM cls WHERE y = 1) + 512.0))
      |      - ln(1.0 / ((SELECT tot FROM cls WHERE y = 0) + 512.0))))
      |      AS wsum
      |  FROM f LEFT JOIN wt USING (bucket)
      |  WHERE f.doc_id % 5 = 4
      |  GROUP BY 1),
      |sc AS (
      |  SELECT h.doc_id,
      |    ln(CAST((SELECT docs FROM dc WHERE y = 1) AS DOUBLE)
      |       / (SELECT docs FROM dc WHERE y = 0))
      |    + coalesce(sc0.wsum, 0.0) AS score
      |  FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 4) h
      |  LEFT JOIN sc0 USING (doc_id))
      |SELECT CAST(sc.score > 0 AS INT) AS predicted,
      |  CAST(d.lang <> 'en' AS INT) AS actual,
      |  count(*) AS n, round(sum(sc.score), 1) AS score_sum
      |FROM sc JOIN documents d USING (doc_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Binary-quantized ANN at the driver gate, shortlist covering the
    * corpus so the exact re-rank reproduces brute-force ordering while
    * the carried `hamming` column value-checks the quantization chain —
    * per-dim medians over the bounded md5-ordered trainer sample,
    * sign-bit packing, popcount distance — which the oracle recomputes
    * from scratch on UNPACKED bits (no shared packing code to mis-read
    * on both sides), mirroring the sample with
    * `ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1024`. */
  def q116_ann_binary(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val probes = e.filter(col("vec_id") < 5)
    // derive corpus coverage instead of hard-coding it: the brute-force
    // oracle parity requires k·factor ≥ corpus−1 at ANY scale factor
    val n = e.count().toInt
    graft.pipeline.Similarity.knnBinary(probes, e, "vec_id", "embedding",
        k = 5, shortlistFactor = (n + 4) / 5)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("probe_id", "neighbor_id")
  }

  val q116_sql: String =
    """WITH samp AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1024),
      |se AS (
      |  SELECT vec_id, g.i AS d, CAST(embedding[g.i+1] AS DOUBLE) AS x
      |  FROM samp, generate_series(0, 63) g(i)),
      |med AS (SELECT d, quantile_cont(x, 0.5) AS m FROM se GROUP BY d),
      |e AS (
      |  SELECT vec_id, g.i AS d, CAST(embedding[g.i+1] AS DOUBLE) AS x
      |  FROM embeddings, generate_series(0, 63) g(i)),
      |bits AS (
      |  SELECT vec_id, e.d, CASE WHEN x > m THEN 1 ELSE 0 END AS bit
      |  FROM e JOIN med USING (d)),
      |ham AS (
      |  SELECT pb.vec_id AS pid, cb.vec_id AS nid,
      |    CAST(sum(CASE WHEN pb.bit <> cb.bit THEN 1 ELSE 0 END)
      |      AS BIGINT) AS hamming
      |  FROM bits pb JOIN bits cb
      |    ON pb.d = cb.d AND pb.vec_id < 5 AND pb.vec_id <> cb.vec_id
      |  GROUP BY 1, 2),
      |p AS (SELECT vec_id AS pid, embedding AS pv FROM embeddings
      |      WHERE vec_id < 5),
      |c AS (SELECT vec_id AS nid, embedding AS cv FROM embeddings),
      |s AS (
      |  SELECT pid, nid,
      |    list_sum(list_transform(generate_series(1,64),
      |      i -> CAST(pv[i] AS DOUBLE)*CAST(cv[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(generate_series(1,64),
      |         i -> CAST(pv[i] AS DOUBLE)*CAST(pv[i] AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(generate_series(1,64),
      |         i -> CAST(cv[i] AS DOUBLE)*CAST(cv[i] AS DOUBLE)))))
      |    AS cos
      |  FROM p, c WHERE pid != nid),
      |r AS (SELECT pid, nid, cos,
      |        row_number() OVER (PARTITION BY pid
      |                           ORDER BY cos DESC, nid) AS rk
      |      FROM s)
      |SELECT r.pid AS probe_id, r.nid AS neighbor_id,
      |  round(r.cos, 6) AS cosine, ham.hamming
      |FROM r JOIN ham ON ham.pid = r.pid AND ham.nid = r.nid
      |WHERE r.rk <= 5 ORDER BY probe_id, neighbor_id""".stripMargin

  // ------------------------------------------- round 9: new operators

  /** Hard-negative mining: for probes vec_id < 10, the 5 most-similar
    * corpus vectors with a DIFFERENT label — exact brute scoring, the
    * q25 shape plus the cross-label predicate (hardNegativesIvf's
    * recall is measured in SimilaritySpec). */
  def q120_hard_negatives(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Similarity.hardNegatives(e.filter(col("vec_id") < 10), e,
      "vec_id", "embedding", "label", k = 5)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("probe_id", "neighbor_id")
  }

  val q120_sql: String =
    """WITH p AS (SELECT vec_id AS pid, embedding AS pv, label AS pl
      |           FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id AS nid, embedding AS cv, label AS nl
      |      FROM embeddings),
      |s AS (
      |  SELECT pid, nid, pl, nl,
      |    list_sum(list_transform(generate_series(1,64),
      |      i -> CAST(pv[i] AS DOUBLE)*CAST(cv[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(generate_series(1,64),
      |         i -> CAST(pv[i] AS DOUBLE)*CAST(pv[i] AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(generate_series(1,64),
      |         i -> CAST(cv[i] AS DOUBLE)*CAST(cv[i] AS DOUBLE)))))
      |    AS cos
      |  FROM p, c WHERE pid != nid AND pl != nl),
      |r AS (SELECT pid, nid, pl, nl, cos,
      |        row_number() OVER (PARTITION BY pid
      |                           ORDER BY cos DESC, nid) AS rk
      |      FROM s)
      |SELECT pid AS probe_id, nid AS neighbor_id, pl AS probe_label,
      |  nl AS neighbor_label, round(cos,6) AS cosine
      |FROM r WHERE rk <= 5 ORDER BY probe_id, neighbor_id""".stripMargin

  /** Containment near-dup over a corpus with planted HALF-TRUNCATED
    * copies of doc_id < 25 (first ⌈len/2⌉ words, re-keyed +200000): a
    * prefix's distinct shingles are a subset of its original's, so the
    * (orig, trunc) pair scores containment exactly 1.0 while its
    * Jaccard is only ~0.5 — the asymmetric-duplication case this
    * measure exists for, and a threshold of 0.9 that no natural pair
    * reaches. */
  def q121_containment(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select("doc_id", "text")
    val words = split(col("text"), " ")
    val half = greatest(ceil(size(words) / 2.0), lit(1)).cast("int")
    val trunc = d.filter(col("doc_id") < 25).select(
      (col("doc_id") + 200000).as("doc_id"),
      array_join(slice(words, lit(1), half), " ").as("text"))
    // maxPairs raised explicitly: the 10x scale synthesis splices docs
    // so grams share ~half their postings with parents, putting the
    // honest total fan-out (~2.8e8 gram-pair rows at 10x) over the 1e8
    // default — the budget is a disclosed cost here, not a surprise
    Dedup.containmentPairs(d.unionByName(trunc), "doc_id", "text",
      n = 3, threshold = 0.9, maxPairs = 1000000000L)
      .withColumn("containment_ab", round(col("containment_ab"), 6))
      .withColumn("containment_ba", round(col("containment_ba"), 6))
      .withColumn("containment", round(col("containment"), 6))
      .orderBy("id_a", "id_b")
  }

  val q121_sql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 200000 AS doc_id,
      |    array_to_string(list_slice(string_split(text, ' '), 1,
      |      CAST(greatest(ceil(len(string_split(text, ' ')) / 2.0), 1)
      |        AS INT)), ' ') AS text
      |  FROM documents WHERE doc_id < 25),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, greatest(len(toks)-2, 0)),
      |    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS s
      |  FROM (SELECT doc_id,
      |          string_split_regex(trim(lower(text)), '\s+') AS toks
      |        FROM corpus)),
      |g AS (SELECT doc_id, unnest(s) AS gh FROM sh),
      |i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |        count(*) AS inter
      |      FROM g a JOIN g b
      |        ON a.gh = b.gh AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2),
      |z AS (SELECT doc_id, len(s) AS sz FROM sh)
      |SELECT id_a, id_b, inter, za.sz AS sz_a, zb.sz AS sz_b,
      |  round(CAST(inter AS DOUBLE)/za.sz, 6) AS containment_ab,
      |  round(CAST(inter AS DOUBLE)/zb.sz, 6) AS containment_ba,
      |  round(greatest(CAST(inter AS DOUBLE)/za.sz,
      |                 CAST(inter AS DOUBLE)/zb.sz), 6) AS containment
      |FROM i JOIN z za ON za.doc_id = id_a
      |       JOIN z zb ON zb.doc_id = id_b
      |WHERE greatest(CAST(inter AS DOUBLE)/za.sz,
      |               CAST(inter AS DOUBLE)/zb.sz) >= 0.9
      |ORDER BY id_a, id_b""".stripMargin

  /** Content-collapsed containment ([[Dedup.containmentByContent]]):
    * the scale path for the listing q121's guard refuses on clique
    * corpora — exact copies collapse to min-id reps annotated with
    * group sizes, the q121 fixture plus PLANTED exact copies
    * (doc_id + 400000 for doc_id % 7 = 0) exercising the collapse.
    * The oracle groups by md5(text) first, then replays the q121 pair
    * math over reps only. */
  def q189_containment_content(spark: SparkSession, dir: String)
      : DataFrame = {
    val d = docs(spark, dir).select("doc_id", "text")
    val words = split(col("text"), " ")
    val half = greatest(ceil(size(words) / 2.0), lit(1)).cast("int")
    val trunc = d.filter(col("doc_id") < 25).select(
      (col("doc_id") + 200000).as("doc_id"),
      array_join(slice(words, lit(1), half), " ").as("text"))
    val copies = d.filter(col("doc_id") % 7 === 0).select(
      (col("doc_id") + 400000).as("doc_id"), col("text"))
    Dedup.containmentByContent(
      d.unionByName(trunc).unionByName(copies), "doc_id", "text",
      n = 3, threshold = 0.9, maxPairs = 1000000000L)
      .withColumn("containment_ab", round(col("containment_ab"), 6))
      .withColumn("containment_ba", round(col("containment_ba"), 6))
      .withColumn("containment", round(col("containment"), 6))
      .orderBy("id_a", "id_b")
  }

  val q189_sql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 200000 AS doc_id,
      |    array_to_string(list_slice(string_split(text, ' '), 1,
      |      CAST(greatest(ceil(len(string_split(text, ' ')) / 2.0), 1)
      |        AS INT)), ' ') AS text
      |  FROM documents WHERE doc_id < 25
      |  UNION ALL
      |  SELECT doc_id + 400000 AS doc_id, text FROM documents
      |  WHERE doc_id % 7 = 0),
      |grp AS (
      |  SELECT md5(text) AS ck, min(doc_id) AS rep,
      |    count(*) AS members
      |  FROM corpus GROUP BY 1),
      |reps AS (
      |  SELECT c.doc_id, c.text FROM corpus c
      |  JOIN grp ON grp.rep = c.doc_id),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, greatest(len(toks)-2, 0)),
      |    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS s
      |  FROM (SELECT doc_id,
      |          string_split_regex(trim(lower(text)), '\s+') AS toks
      |        FROM reps)),
      |g AS (SELECT doc_id, unnest(s) AS gh FROM sh),
      |i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |        count(*) AS inter
      |      FROM g a JOIN g b
      |        ON a.gh = b.gh AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2),
      |z AS (SELECT doc_id, len(s) AS sz FROM sh)
      |SELECT id_a, id_b, inter, za.sz AS sz_a, zb.sz AS sz_b,
      |  round(CAST(inter AS DOUBLE)/za.sz, 6) AS containment_ab,
      |  round(CAST(inter AS DOUBLE)/zb.sz, 6) AS containment_ba,
      |  round(greatest(CAST(inter AS DOUBLE)/za.sz,
      |                 CAST(inter AS DOUBLE)/zb.sz), 6) AS containment,
      |  ma.members AS members_a, mb.members AS members_b
      |FROM i JOIN z za ON za.doc_id = id_a
      |       JOIN z zb ON zb.doc_id = id_b
      |       JOIN grp ma ON ma.rep = id_a
      |       JOIN grp mb ON mb.rep = id_b
      |WHERE greatest(CAST(inter AS DOUBLE)/za.sz,
      |               CAST(inter AS DOUBLE)/zb.sz) >= 0.9
      |ORDER BY id_a, id_b""".stripMargin

  /** Greedy k-center (k = 8) over the embeddings corpus: the oracle
    * replays Gonzalez's greedy argmax round by round in a recursive
    * CTE — every selection and covering radius must agree, so the
    * incremental min-distance maintenance, the distributed top-1, and
    * the (dist DESC, id) tie-break are all gated. */
  def q122_kcenter(spark: SparkSession, dir: String): DataFrame =
    Similarity.kCenter(embs(spark, dir), "vec_id", "embedding", k = 8)
      .withColumn("radius", round(col("radius"), 6))
      .orderBy("sel_rank")

  val q122_sql: String =
    """WITH RECURSIVE
      |v AS (SELECT vec_id AS id, embedding AS e FROM embeddings),
      |d AS (
      |  SELECT a.id AS x, b.id AS c,
      |    1.0 - (
      |      list_sum(list_transform(generate_series(1,64),
      |        i -> CAST(a.e[i] AS DOUBLE)*CAST(b.e[i] AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(generate_series(1,64),
      |           i -> CAST(a.e[i] AS DOUBLE)*CAST(a.e[i] AS DOUBLE))))
      |       * sqrt(list_sum(list_transform(generate_series(1,64),
      |           i -> CAST(b.e[i] AS DOUBLE)*CAST(b.e[i] AS DOUBLE))))))
      |    AS dist
      |  FROM v a, v b),
      |sel(r, ids, rad) AS (
      |  SELECT 1, [(SELECT min(id) FROM v)], CAST(NULL AS DOUBLE)
      |  UNION ALL
      |  SELECT r + 1,
      |    list_append(ids, (
      |      SELECT x FROM (
      |        SELECT d.x AS x, min(d.dist) AS md FROM d
      |        WHERE list_contains(s.ids, d.c)
      |          AND NOT list_contains(s.ids, d.x)
      |        GROUP BY d.x) ORDER BY md DESC, x LIMIT 1)),
      |    (SELECT md FROM (
      |        SELECT d.x AS x, min(d.dist) AS md FROM d
      |        WHERE list_contains(s.ids, d.c)
      |          AND NOT list_contains(s.ids, d.x)
      |        GROUP BY d.x) ORDER BY md DESC, x LIMIT 1)
      |  FROM sel s WHERE r < 8)
      |SELECT r AS sel_rank, ids[r] AS center_id, round(rad, 6) AS radius
      |FROM sel ORDER BY sel_rank""".stripMargin

  /** Domain balancing: at most 15 docs per source, by (n_chars DESC,
    * doc_id) — the bounded `collect_top_k` aggregation vs the oracle's
    * per-domain row_number. */
  def q124_domain_cap(spark: SparkSession, dir: String): DataFrame =
    Curation.domainCap(docs(spark, dir), "source", "n_chars",
      "doc_id", cap = 15)
      .select("source", "doc_id", "n_chars")
      .orderBy("source", "doc_id")

  val q124_sql: String =
    """WITH r AS (
      |  SELECT source, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY source
      |                       ORDER BY n_chars DESC, doc_id) AS rk
      |  FROM documents)
      |SELECT source, doc_id, n_chars FROM r WHERE rk <= 15
      |ORDER BY source, doc_id""".stripMargin

  /** Systematic PPS sampling at the driver gate: draw 100 docs with
    * probability ∝ n_chars. Every selection decision is exact 64-bit
    * integer arithmetic over the md5-permuted cumulative-weight line
    * (see [[graft.pipeline.Curation.ppsSystematicSample]]), so the
    * DuckDB oracle replays the draw bit-for-bit — no float anywhere. */
  def q128_pps_sample(spark: SparkSession, dir: String): DataFrame =
    Curation.ppsSystematicSample(
      docs(spark, dir).select("doc_id", "n_chars"),
      "doc_id", "n_chars", n = 100)
      .select("doc_id", "n_chars", "copies")
      .orderBy("doc_id")

  val q128_sql: String =
    """WITH c AS (
      |  SELECT doc_id, n_chars,
      |    sum(n_chars) OVER (
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
      |    sum(n_chars) OVER () AS W
      |  FROM documents),
      |m AS (
      |  SELECT doc_id, n_chars,
      |    (ca - n_chars) * 200 AS A, ca * 200 AS B, W
      |  FROM c),
      |k AS (
      |  SELECT doc_id, n_chars,
      |    ((B - 1) // W + 1) // 2 - ((A + W - 1) // W) // 2 AS copies
      |  FROM m)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CAST(n_chars AS BIGINT) AS n_chars,
      |  CAST(copies AS BIGINT) AS copies
      |FROM k WHERE copies >= 1
      |ORDER BY doc_id""".stripMargin

  /** C4 cleaning at the driver gate. The corpus has no line structure,
    * so the query synthesizes pages with known families: every doc's
    * tokens become 6-word lines each ending "." (good lines), and
    * doc_id % 7 plants exactly one rule-tripper per class — a
    * javascript line (1), a cookie-policy line (2), a line with no
    * terminal punctuation (3), a 2-word line (4), a lorem-ipsum page
    * kill (5), a curly-brace page kill (6); % 11 == 3 additionally
    * plants a blocklist token ("nsfwbadword") that kills the page.
    * Docs under 30 words produce under 5 base lines and fall to the
    * min-sentence rule; class-0 docs with enough words survive
    * unchanged. Every rule's effect is visible in (n_lines,
    * n_lines_kept, n_sentences, md5(text_clean)). */
  def q125_c4(spark: SparkSession, dir: String): DataFrame = {
    // split once per row into a materialized column — inlined into the
    // transform lambda the tokenizer re-ran per synthetic line
    val d = docs(spark, dir).select(col("doc_id"), col("text"),
      split(col("text"), " ").as("__words"))
    val words = col("__words")
    val nl = greatest(floor(size(words) / 6).cast("int"), lit(1))
    val base = transform(sequence(lit(1), nl), i =>
      concat(array_join(slice(words, (i - 1) * 6 + 1, lit(6)), " "),
        lit(".")))
    val m7 = pmod(col("doc_id"), lit(7))
    val extras = filter(array(
      when(m7 === 1, lit("please enable javascript to view this page.")),
      when(m7 === 2, lit("this site uses cookies and collects data.")),
      when(m7 === 3, lit("this line has no terminal punctuation mark")),
      when(m7 === 4, lit("too short.")),
      when(m7 === 5, lit("lorem ipsum dolor sit amet.")),
      when(m7 === 6, lit("var config = function() { return 1; }.")),
      when(pmod(col("doc_id"), lit(11)) === 3,
        lit("this page mentions nsfwbadword once."))),
      x => x.isNotNull)
    val paged = d.select(col("doc_id"),
      array_join(concat(base, extras), "\n").as("text"))
    Curation.c4Clean(paged, "doc_id", "text",
        minWordsPerLine = 3, minSentences = 5,
        badWords = Seq("nsfwbadword"))
      .select(col("doc_id"), col("n_lines"), col("n_lines_kept"),
        col("n_sentences"), md5(col("text_clean")).as("h"))
      .orderBy("doc_id")
  }

  val q125_sql: String =
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |built AS (
      |  SELECT doc_id,
      |    list_concat(
      |      list_transform(
      |        generate_series(1, greatest(CAST(floor(len(ws)/6) AS INT), 1)),
      |        i -> array_to_string(ws[(i-1)*6+1:(i-1)*6+6], ' ') || '.'),
      |      list_filter([
      |        CASE WHEN doc_id % 7 = 1
      |          THEN 'please enable javascript to view this page.' END,
      |        CASE WHEN doc_id % 7 = 2
      |          THEN 'this site uses cookies and collects data.' END,
      |        CASE WHEN doc_id % 7 = 3
      |          THEN 'this line has no terminal punctuation mark' END,
      |        CASE WHEN doc_id % 7 = 4 THEN 'too short.' END,
      |        CASE WHEN doc_id % 7 = 5
      |          THEN 'lorem ipsum dolor sit amet.' END,
      |        CASE WHEN doc_id % 7 = 6
      |          THEN 'var config = function() { return 1; }.' END,
      |        CASE WHEN doc_id % 11 = 3
      |          THEN 'this page mentions nsfwbadword once.' END],
      |        x -> x IS NOT NULL)) AS lines
      |  FROM w),
      |pg AS (
      |  SELECT doc_id, lines,
      |    array_to_string(lines, chr(10)) AS page,
      |    list_filter(lines, l ->
      |      regexp_matches(trim(l), '[.!?"]$')
      |      AND len(string_split_regex(trim(l), '\s+')) >= 3
      |      AND NOT contains(lower(trim(l)), 'javascript')
      |      AND NOT contains(lower(trim(l)), 'terms of use')
      |      AND NOT contains(lower(trim(l)), 'privacy policy')
      |      AND NOT contains(lower(trim(l)), 'cookie policy')
      |      AND NOT contains(lower(trim(l)), 'uses cookies')
      |      AND NOT contains(lower(trim(l)), 'use of cookies')
      |      AND NOT contains(lower(trim(l)), 'use cookies')) AS kept
      |  FROM built),
      |cl AS (
      |  SELECT doc_id, lines, kept, page,
      |    array_to_string(kept, chr(10)) AS text_clean,
      |    len(string_split_regex(array_to_string(kept, chr(10)),
      |      '[.!?]')) - 1 AS ns
      |  FROM pg)
      |SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
      |  CAST(len(kept) AS BIGINT) AS n_lines_kept,
      |  CAST(ns AS BIGINT) AS n_sentences, md5(text_clean) AS h
      |FROM cl
      |WHERE NOT contains(lower(page), 'lorem ipsum')
      |  AND NOT contains(page, '{')
      |  AND NOT list_has_any(
      |    string_split_regex(trim(lower(page)), '\s+'), ['nsfwbadword'])
      |  AND ns >= 5
      |ORDER BY doc_id""".stripMargin

  /** Paragraph-level corpus dedup at the driver gate. Docs become
    * 8-word paragraphs; two planted duplicate families exercise the
    * corpus-global first-occurrence rule: every non-anchor doc appends
    * its decade anchor's (doc_id − doc_id % 10) first paragraph —
    * kept only at the anchor itself, dropped from the other nine —
    * and doc_id % 7 == 3 docs append their OWN first paragraph
    * (dropped: its (id, 0) occurrence wins). (n_paras, n_paras_kept,
    * md5(text_clean)) gate the removal AND the reassembly. */
  def q126_para_dedup(spark: SparkSession, dir: String): DataFrame = {
    // split once per row into a materialized column — inlined into the
    // transform lambda the tokenizer re-ran per synthetic paragraph
    val d = docs(spark, dir).select(col("doc_id"), col("text"),
      split(col("text"), " ").as("__words"))
    val words = col("__words")
    val np = greatest(ceil(size(words) / 8.0).cast("int"), lit(1))
    val base = transform(sequence(lit(1), np), i =>
      array_join(slice(words, (i - 1) * 8 + 1, lit(8)), " "))
    val anchors = d.filter(col("doc_id") % 10 === 0).select(
      col("doc_id").as("anchor_id"),
      array_join(slice(col("__words"), 1, 8), " ")
        .as("anchor_para"))
    val paged = d.select(col("doc_id"), base.as("paras"))
      .withColumn("anchor_id",
        col("doc_id") - pmod(col("doc_id"), lit(10)))
      .join(anchors, Seq("anchor_id"), "left")
      .select(col("doc_id"), array_join(
        concat(col("paras"), filter(array(
          when(col("doc_id") =!= col("anchor_id"), col("anchor_para")),
          when(pmod(col("doc_id"), lit(7)) === 3,
            element_at(col("paras"), 1))),
          x => x.isNotNull)),
        "\n\n").as("text"))
    Dedup.dedupParagraphs(paged, "doc_id", "text")
      .select(col("doc_id"), col("n_paras"), col("n_paras_kept"),
        md5(col("text_clean")).as("h"))
      .orderBy("doc_id")
  }

  val q126_sql: String =
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |b AS (
      |  SELECT doc_id, list_transform(
      |    generate_series(1, greatest(CAST(ceil(len(ws)/8.0) AS INT), 1)),
      |    i -> array_to_string(ws[(i-1)*8+1:(i-1)*8+8], ' ')) AS paras
      |  FROM w),
      |a AS (
      |  SELECT doc_id AS anchor_id,
      |    array_to_string(ws[1:8], ' ') AS anchor_para
      |  FROM w WHERE doc_id % 10 = 0),
      |built AS (
      |  SELECT b.doc_id, list_concat(paras, list_filter([
      |      CASE WHEN b.doc_id % 10 <> 0 THEN a.anchor_para END,
      |      CASE WHEN b.doc_id % 7 = 3 THEN paras[1] END],
      |      x -> x IS NOT NULL)) AS paras
      |  FROM b LEFT JOIN a ON a.anchor_id = b.doc_id - b.doc_id % 10),
      |p AS (
      |  SELECT doc_id, unnest(generate_series(1, len(paras))) AS i, paras
      |  FROM built),
      |ph AS (
      |  SELECT doc_id, i, md5(lower(trim(paras[i]))) AS h FROM p),
      |k AS (
      |  SELECT doc_id, i FROM (
      |    SELECT doc_id, i,
      |      row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn
      |    FROM ph) WHERE rn = 1),
      |agg AS (
      |  SELECT doc_id, list(i ORDER BY i) AS keep FROM k GROUP BY doc_id)
      |SELECT built.doc_id, CAST(len(built.paras) AS BIGINT) AS n_paras,
      |  CAST(coalesce(len(agg.keep), 0) AS BIGINT) AS n_paras_kept,
      |  -- DuckDB's array_to_string of an EMPTY list is NULL, Spark's
      |  -- array_join is '' — normalize before hashing
      |  md5(coalesce(array_to_string(
      |    list_transform(coalesce(agg.keep, CAST([] AS BIGINT[])),
      |      j -> built.paras[j]), chr(10) || chr(10)), '')) AS h
      |FROM built LEFT JOIN agg ON agg.doc_id = built.doc_id
      |ORDER BY built.doc_id""".stripMargin

  /** Distributed k-means at the driver gate: 2 Lloyd iterations, k = 4,
    * over the embeddings table at quantization scale 10⁴. Because every
    * step of [[graft.pipeline.Clustering.kMeans]] is exact integer
    * arithmetic (quantized grid points, integer distances, one IEEE
    * double division per centroid component), the DuckDB oracle replays
    * the full trajectory — init, both assignment rounds, both centroid
    * updates — and lands on bit-identical (cluster, dist2) for all
    * rows. */
  def q129_kmeans(spark: SparkSession, dir: String): DataFrame = {
    val (assigned, _) = Clustering.kMeans(
      embs(spark, dir).select("vec_id", "embedding"),
      "vec_id", "embedding", k = 4, iters = 2, scale = 10000L)
    assigned
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
        col("dist2"))
      .orderBy("vec_id")
  }

  val q129_sql: String =
    """WITH q AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS v
      |  FROM embeddings),
      |c0 AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
      |  FROM q ORDER BY vec_id LIMIT 4),
      |a1 AS (
      |  SELECT vec_id, v,
      |    (min({'d': list_sum(list_transform(generate_series(1, 64),
      |       j -> (v[j] - cv[j]) * (v[j] - cv[j]))), 'c': cid})).c AS c
      |  FROM q CROSS JOIN c0 GROUP BY vec_id, v),
      |s1 AS (
      |  SELECT c, j, CAST(round(CAST(sum(v[j]) AS DOUBLE) / count(*))
      |    AS BIGINT) AS cj
      |  FROM (SELECT c, unnest(generate_series(1, 64)) AS j, v FROM a1)
      |  GROUP BY c, j),
      |c1 AS (
      |  SELECT c0.cid,
      |    coalesce(list(s1.cj ORDER BY s1.j), c0.cv) AS cv
      |  FROM c0 LEFT JOIN s1 ON s1.c = c0.cid
      |  GROUP BY c0.cid, c0.cv),
      |a2 AS (
      |  SELECT vec_id, v,
      |    (min({'d': list_sum(list_transform(generate_series(1, 64),
      |       j -> (v[j] - cv[j]) * (v[j] - cv[j]))), 'c': cid})).c AS c
      |  FROM q CROSS JOIN c1 GROUP BY vec_id, v),
      |s2 AS (
      |  SELECT c, j, CAST(round(CAST(sum(v[j]) AS DOUBLE) / count(*))
      |    AS BIGINT) AS cj
      |  FROM (SELECT c, unnest(generate_series(1, 64)) AS j, v FROM a2)
      |  GROUP BY c, j),
      |c2 AS (
      |  SELECT c1.cid,
      |    coalesce(list(s2.cj ORDER BY s2.j), c1.cv) AS cv
      |  FROM c1 LEFT JOIN s2 ON s2.c = c1.cid
      |  GROUP BY c1.cid, c1.cv),
      |fin AS (
      |  SELECT vec_id,
      |    min({'d': list_sum(list_transform(generate_series(1, 64),
      |       j -> (v[j] - cv[j]) * (v[j] - cv[j]))), 'c': cid}) AS m
      |  FROM q CROSS JOIN c2 GROUP BY vec_id)
      |SELECT vec_id, CAST(m.c AS BIGINT) AS cluster,
      |  CAST(m.d AS BIGINT) AS dist2
      |FROM fin ORDER BY vec_id""".stripMargin

  /** URL canonicalization + dedup ([[graft.pipeline.Urls]]): the
    * documents table has no URL column, so each doc mints TWO raw
    * spellings of the same resource — a messy one (uppercase scheme/
    * host, explicit :443, tracking params, unsorted query, fragment,
    * trailing slash) and a clean one — which must collapse to ONE
    * canonical row with n_variants = 2. The oracle rebuilds the same
    * construction and states the expected canonical form directly, so
    * the gate checks the parser's rules end to end. */
  def q130_url_dedup(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select("doc_id", "source")
    val messy = d.select(concat(lit("HTTPS://"), upper(col("source")),
      lit(".Example.COM:443/docs/"), col("doc_id"),
      lit("/?utm_source=feed&b=2&a=1#frag")).as("url"))
    val clean = d.select(concat(lit("https://"), col("source"),
      lit(".example.com/docs/"), col("doc_id"), lit("?a=1&b=2"))
      .as("url"))
    graft.pipeline.Urls.urlDedup(messy.unionByName(clean), "url")
      .orderBy("canonical_url")
  }

  val q130_sql: String =
    """WITH raw AS (
      |  SELECT 'HTTPS://' || upper(source) || '.Example.COM:443/docs/'
      |      || doc_id || '/?utm_source=feed&b=2&a=1#frag' AS url,
      |    'https://' || lower(source) || '.example.com/docs/' || doc_id
      |      || '?a=1&b=2' AS canonical_url
      |  FROM documents
      |  UNION ALL
      |  SELECT 'https://' || source || '.example.com/docs/' || doc_id
      |      || '?a=1&b=2' AS url,
      |    'https://' || lower(source) || '.example.com/docs/' || doc_id
      |      || '?a=1&b=2' AS canonical_url
      |  FROM documents)
      |SELECT canonical_url, count(*) AS n_variants,
      |  min(url) AS sample_raw
      |FROM raw GROUP BY canonical_url ORDER BY canonical_url""".stripMargin

  /** Bloom-prefiltered decontamination ([[graft.pipeline.Bloom]]):
    * every 89th document plays the eval set; the result must be
    * bit-identical to the exact gram semi-join (the bloom only prunes
    * candidates — false positives die in the confirm join), so the
    * oracle is the plain exact-overlap SQL with no bloom anywhere. */
  def q131_bloom_decontam(spark: SparkSession, dir: String)
      : DataFrame = {
    val d = docs(spark, dir)
    val bench = d.filter(col("doc_id") % 89 === 0)
    graft.pipeline.Bloom.bloomContaminationHits(d, "doc_id", "text",
      bench, "text", n = 13)
      .orderBy("doc_id")
  }

  val q131_sql: String =
    """WITH bg AS (
      |  SELECT DISTINCT g FROM (
      |    SELECT unnest(list_distinct(list_transform(
      |      generate_series(1, greatest(len(tk) - 12, 0)),
      |      i -> array_to_string(tk[i:i+12], ' ')))) AS g
      |    FROM (SELECT string_split_regex(trim(lower(text)), '\s+') AS tk
      |          FROM documents WHERE doc_id % 89 = 0))),
      |dg AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, greatest(len(tk) - 12, 0)),
      |    i -> array_to_string(tk[i:i+12], ' ')))) AS g
      |  FROM (SELECT doc_id,
      |          string_split_regex(trim(lower(text)), '\s+') AS tk
      |        FROM documents))
      |SELECT doc_id, count(*) AS n_hits
      |FROM dg WHERE g IN (SELECT g FROM bg)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Zipf vocabulary profile ([[TextAnalysis.vocabStats]]): top-100
    * token types with rank, corpus share, and cumulative coverage —
    * integer counts, shares rounded 6dp over the SAME total-token
    * denominator both sides. */
  def q132_vocab(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabStats(docs(spark, dir), "text", 100)
      .orderBy("rank")

  val q132_sql: String =
    """WITH t AS (
      |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
      |    AS tok FROM documents),
      |c AS (SELECT tok, count(*) AS cnt FROM t WHERE tok <> ''
      |      GROUP BY tok),
      |n AS (SELECT sum(cnt) AS total FROM c),
      |r AS (SELECT tok, cnt,
      |        row_number() OVER (ORDER BY cnt DESC, tok) AS rank
      |      FROM c)
      |SELECT rank, tok, cnt,
      |  round(CAST(cnt AS DOUBLE) / total, 6) AS share,
      |  round(CAST(sum(cnt) OVER (ORDER BY rank) AS DOUBLE) / total, 6)
      |    AS cum_share
      |FROM r, n WHERE rank <= 100 ORDER BY rank""".stripMargin

  /** Adjacent-bigram PMI collocations ([[TextAnalysis.pmiBigrams]]):
    * top-50 by (pmi desc, bigram asc) at minCount 3 — counts exact,
    * PMI rounded 6dp with the same ((cxy·N)/(cx·cy)) association
    * order both engines. */
  def q133_pmi(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.pmiBigrams(docs(spark, dir), "text", minCount = 3,
      k = 50)

  val q133_sql: String =
    """WITH tk AS (
      |  SELECT string_split_regex(trim(lower(text)), '\s+') AS t
      |  FROM documents),
      |n AS (SELECT sum(len(list_filter(t, x -> x <> ''))) AS nn
      |      FROM tk),
      |u AS (SELECT w, count(*) AS cw FROM (
      |        SELECT unnest(t) AS w FROM tk) WHERE w <> '' GROUP BY w),
      |bg AS (
      |  SELECT unnest(list_transform(
      |    generate_series(1, greatest(len(t) - 1, 0)),
      |    i -> t[i] || ' ' || t[i+1])) AS b
      |  FROM tk),
      |b AS (
      |  SELECT split_part(b, ' ', 1) AS w1, split_part(b, ' ', 2) AS w2,
      |    count(*) AS cxy
      |  FROM bg
      |  WHERE split_part(b, ' ', 1) <> '' AND split_part(b, ' ', 2) <> ''
      |  GROUP BY 1, 2 HAVING count(*) >= 3),
      |s AS (
      |  SELECT b.w1, b.w2, b.cxy,
      |    round(ln(CAST(b.cxy AS DOUBLE) * nn /
      |      (CAST(u1.cw AS DOUBLE) * u2.cw)), 6) AS pmi
      |  FROM b JOIN u u1 ON u1.w = b.w1 JOIN u u2 ON u2.w = b.w2, n)
      |SELECT w1, w2, cxy, pmi FROM s
      |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin

  /** Gopher doc-level quality rules ([[Curation.gopherRules]]): the
    * natural corpus (mostly failing the 50-word floor — the audit
    * frame keeps every row) plus five planted rule-trippers, one per
    * non-length rule: symbol-heavy, all-bullet lines, ellipsis-ended
    * lines, digit-only words, and no-required-words prose. The oracle
    * replays every rule in DuckDB list lambdas (the q125 idiom). */
  def q138_gopher(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select("doc_id", "text")
    val spark2 = spark; import spark2.implicits._
    val planted = Seq(
      (9000001L, "the be to of and that have with " +
        "# # # # # # # #"),
      (9000002L, "- bullet one here\n- bullet two here\n" +
        "- bullet three here"),
      (9000003L, "the first line trails off...\n" +
        "and the second one does too..."),
      (9000004L, "111 222 333 444 555 666 777 888 999 000"),
      (9000005L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    Curation.gopherRules(d.unionByName(planted), "doc_id", "text")
      .orderBy("doc_id")
  }

  val q138_sql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT 9000001,
      |    'the be to of and that have with # # # # # # # #'
      |  UNION ALL SELECT 9000002,
      |    '- bullet one here' || chr(10) || '- bullet two here' ||
      |    chr(10) || '- bullet three here'
      |  UNION ALL SELECT 9000003,
      |    'the first line trails off...' || chr(10) ||
      |    'and the second one does too...'
      |  UNION ALL SELECT 9000004,
      |    '111 222 333 444 555 666 777 888 999 000'
      |  UNION ALL SELECT 9000005,
      |    'alpha beta gamma delta epsilon zeta eta theta'),
      |base AS (
      |  SELECT doc_id, regexp_replace(text, '\r\n?', chr(10), 'g')
      |    AS raw FROM corpus),
      |w AS (
      |  SELECT doc_id, raw,
      |    list_filter(string_split_regex(trim(raw), '\s+'),
      |      x -> x <> '') AS words,
      |    list_filter(string_split(raw, chr(10)),
      |      l -> trim(l) <> '') AS lines
      |  FROM base),
      |m AS (
      |  SELECT doc_id,
      |    len(words) AS n_words,
      |    CASE WHEN len(words) = 0 THEN 0.0 ELSE
      |      CAST(list_sum(list_transform(words, x -> len(x)))
      |        AS DOUBLE) / len(words) END AS mean_word_len,
      |    CASE WHEN len(words) = 0 THEN 0.0 ELSE
      |      (CAST(len(raw) - len(replace(raw, '#', '')) AS DOUBLE) +
      |       (len(raw) - len(replace(raw, '...', ''))) / 3)
      |        / len(words) END AS symbol_ratio,
      |    CASE WHEN len(lines) = 0 THEN 0.0 ELSE
      |      CAST(len(list_filter(lines,
      |        l -> regexp_matches(trim(l), '^[-*•‣▪]')))
      |        AS DOUBLE) / len(lines) END AS bullet_frac,
      |    CASE WHEN len(lines) = 0 THEN 0.0 ELSE
      |      CAST(len(list_filter(lines, l -> trim(l) LIKE '%...'))
      |        AS DOUBLE) / len(lines) END AS ellipsis_frac,
      |    CASE WHEN len(words) = 0 THEN 0.0 ELSE
      |      CAST(len(list_filter(words,
      |        x -> regexp_matches(x, '[A-Za-z]')))
      |        AS DOUBLE) / len(words) END AS alpha_word_frac,
      |    len(list_filter(
      |      ['the','be','to','of','and','that','have','with'],
      |      r -> list_contains(list_transform(words, x -> lower(x)),
      |             r))) AS required_hits
      |  FROM w)
      |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
      |  round(mean_word_len, 6) AS mean_word_len,
      |  round(symbol_ratio, 6) AS symbol_ratio,
      |  round(bullet_frac, 6) AS bullet_frac,
      |  round(ellipsis_frac, 6) AS ellipsis_frac,
      |  round(alpha_word_frac, 6) AS alpha_word_frac,
      |  CAST(required_hits AS BIGINT) AS required_hits,
      |  (n_words >= 50 AND n_words <= 100000) AS r_word_count,
      |  (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
      |    AS r_mean_word_len,
      |  (symbol_ratio <= 0.1) AS r_symbol_ratio,
      |  (bullet_frac <= 0.9) AS r_bullet_lines,
      |  (ellipsis_frac <= 0.3) AS r_ellipsis_lines,
      |  (alpha_word_frac >= 0.8) AS r_alpha_words,
      |  (required_hits >= 2) AS r_required_words,
      |  (n_words >= 50 AND n_words <= 100000
      |   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
      |   AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
      |   AND ellipsis_frac <= 0.3 AND alpha_word_frac >= 0.8
      |   AND required_hits >= 2) AS keep
      |FROM m ORDER BY doc_id""".stripMargin

  /** Embedding-corpus health audit ([[graft.pipeline.Embeddings
    * .embeddingStats]]): the natural per-label norm distributions plus
    * four planted pathologies under label 99 — a null vector, a
    * NaN-bearing vector, a zero vector, and a wrong-dimension vector —
    * each of which must land in exactly its own counter while the norm
    * stats exclude the unusable rows. */
  def q139_embed_stats(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir).select(col("vec_id"), col("embedding"),
      col("label"))
    val f = (x: Double) => lit(x.toFloat)
    val zeros = array(Seq.fill(64)(f(0.0)): _*)
    val nans = array((f(1.0) +: Seq.fill(63)(
      lit(Double.NaN).cast("float"))): _*)
    val short3 = array(f(1.0), f(2.0), f(2.0))
    val one = spark.range(1)
    val planted = one.select(lit(9000001L).as("vec_id"),
        lit(null).cast("array<float>").as("embedding"),
        lit(99).as("label"))
      .unionByName(one.select(lit(9000002L).as("vec_id"),
        nans.as("embedding"), lit(99).as("label")))
      .unionByName(one.select(lit(9000003L).as("vec_id"),
        zeros.as("embedding"), lit(99).as("label")))
      .unionByName(one.select(lit(9000004L).as("vec_id"),
        short3.as("embedding"), lit(99).as("label")))
    graft.pipeline.Embeddings.embeddingStats(
        e.unionByName(planted), "label", "embedding", dim = 64)
      .orderBy("label")
  }

  val q139_sql: String =
    """WITH corpus AS (
      |  SELECT vec_id, embedding, label FROM embeddings
      |  UNION ALL SELECT 9000001, NULL, 99
      |  UNION ALL SELECT 9000002,
      |    list_prepend(CAST(1.0 AS FLOAT),
      |      list_transform(generate_series(1, 63),
      |        i -> CAST('NaN' AS FLOAT))), 99
      |  UNION ALL SELECT 9000003,
      |    list_transform(generate_series(1, 64),
      |      i -> CAST(0.0 AS FLOAT)), 99
      |  UNION ALL SELECT 9000004,
      |    [CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT),
      |     CAST(2.0 AS FLOAT)], 99),
      |m AS (
      |  SELECT label,
      |    embedding IS NULL AS is_null,
      |    CASE WHEN embedding IS NULL THEN false ELSE
      |      len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE))))
      |        > 0 END AS has_nan,
      |    CASE WHEN embedding IS NULL THEN false ELSE
      |      len(embedding) != 64 END AS bad_dim,
      |    CASE WHEN embedding IS NULL OR
      |      len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE))))
      |        > 0 OR len(embedding) != 64
      |    THEN NULL ELSE
      |      sqrt(list_sum(list_transform(embedding,
      |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |    END AS norm
      |  FROM corpus)
      |SELECT label, count(*) AS n,
      |  CAST(sum(CASE WHEN is_null THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
      |  CAST(sum(CASE WHEN has_nan THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
      |  CAST(sum(CASE WHEN bad_dim THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_dim,
      |  CAST(sum(CASE WHEN norm = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
      |  round(min(norm), 6) AS norm_min,
      |  round(max(norm), 6) AS norm_max,
      |  round(median(norm), 6) AS norm_med
      |FROM m GROUP BY label ORDER BY label""".stripMargin

  /** Signed random projection ([[graft.pipeline.Embeddings
    * .randomProject]]): the first 20 vectors projected 64 → 8 through
    * the md5-derived ±1 matrix, flattened to (vec_id, dim, value) —
    * both engines draw the SAME matrix from the same md5 parity and
    * fold the same multiply order, so values match to the rounded
    * 4dp. */
  def q140_rand_proj(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir).filter(col("vec_id") < 20)
    graft.pipeline.Embeddings.randomProject(e, "embedding", outDim = 8)
      .select(col("vec_id"), posexplode(col("projected"))
        .as(Seq("dim", "value")))
      .select(col("vec_id"), col("dim"),
        round(col("value"), 4).as("value"))
      .orderBy("vec_id", "dim")
  }

  val q140_sql: String =
    """WITH src AS (
      |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
      |p AS (
      |  SELECT vec_id, unnest(generate_series(1, 8)) AS j, embedding
      |  FROM src)
      |SELECT vec_id, j - 1 AS dim,
      |  round(list_sum(list_transform(
      |    generate_series(1, len(embedding)),
      |    i -> CAST(embedding[i] AS DOUBLE) *
      |      (CASE WHEN strpos('02468ace',
      |         substring(md5(i || '_' || j), 1, 1)) > 0
      |       THEN 1.0 ELSE -1.0 END))), 4) AS value
      |FROM p ORDER BY vec_id, dim""".stripMargin

  /** REAL WAV decode gate ([[graft.pipeline.MediaCodecs]]): per doc a
    * genuine RIFF/PCM file is SERIALIZED (channels/rate/frames/tone
    * derived from doc_id), then the decoder parses the actual bytes —
    * chunk walk, LE fields, PCM frame math — and reports header facts
    * plus the mean |amplitude| over real samples. The oracle never
    * sees bytes: it replays the synthesis arithmetic, so the two paths
    * meet only if the serializer and parser are both right. */
  def q141_wav_decode(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark; import spark2.implicits._
    val ids = docs(spark, dir).select(col("doc_id"))
      .filter(col("doc_id") < 50).as[Long]
    val synth = ids.mapPartitions(_.map { id =>
      val ch = 1 + (id % 2).toInt
      val rate = 8000 * (1 + (id % 3).toInt)
      val n = 200 + (id % 7).toInt * 50
      val tone = 773 + id.toInt
      (id, graft.pipeline.MediaCodecs.wavBytes(ch, rate, n, tone))
    }).toDF("doc_id", "media")
    graft.pipeline.MediaCodecs.decodeWav(synth, "doc_id", "media")
      .withColumn("mean_abs_amplitude",
        round(col("mean_abs_amplitude"), 4))
      .orderBy("doc_id")
  }

  val q141_sql: String =
    """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 50),
      |p AS (
      |  SELECT doc_id, 1 + doc_id % 2 AS ch,
      |    8000 * (1 + doc_id % 3) AS rate,
      |    200 + (doc_id % 7) * 50 AS nf,
      |    773 + doc_id AS tone
      |  FROM ids),
      |fi AS (
      |  SELECT doc_id, tone, ch,
      |    unnest(generate_series(CAST(0 AS BIGINT), nf - 1)) AS i
      |  FROM p),
      |fc AS (
      |  SELECT doc_id, tone, i,
      |    unnest(generate_series(CAST(0 AS BIGINT), ch - 1)) AS c
      |  FROM fi),
      |s AS (
      |  SELECT doc_id,
      |    avg(abs(((i * tone + c * 7) % 65536) - 32768)) AS m
      |  FROM fc GROUP BY doc_id)
      |SELECT p.doc_id, CAST(p.ch AS INT) AS channels,
      |  CAST(p.rate AS INT) AS sample_rate,
      |  CAST(p.nf AS BIGINT) AS n_frames,
      |  CAST(p.nf AS BIGINT) * 1000 // p.rate AS duration_ms,
      |  round(s.m, 4) AS mean_abs_amplitude
      |FROM p JOIN s ON s.doc_id = p.doc_id
      |ORDER BY p.doc_id""".stripMargin

  /** REAL BMP decode gate: genuine 24bpp bottom-up BMPs with padded
    * rows are serialized per doc and parsed back — mean B/G/R over the
    * actual pixel bytes vs the oracle's arithmetic replay. */
  def q142_bmp_decode(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark; import spark2.implicits._
    val ids = docs(spark, dir).select(col("doc_id"))
      .filter(col("doc_id") < 50).as[Long]
    val synth = ids.mapPartitions(_.map { id =>
      val w = 4 + (id % 5).toInt
      val h = 3 + (id % 4).toInt
      (id, graft.pipeline.MediaCodecs.bmpBytes(w, h, (id % 100).toInt))
    }).toDF("doc_id", "media")
    graft.pipeline.MediaCodecs.decodeBmp(synth, "doc_id", "media")
      .withColumn("mean_b", round(col("mean_b"), 6))
      .withColumn("mean_g", round(col("mean_g"), 6))
      .withColumn("mean_r", round(col("mean_r"), 6))
      .orderBy("doc_id")
  }

  val q142_sql: String =
    """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 50),
      |p AS (
      |  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h,
      |    doc_id % 100 AS seed
      |  FROM ids),
      |fx AS (
      |  SELECT doc_id, seed, h,
      |    unnest(generate_series(CAST(0 AS BIGINT), w - 1)) AS x
      |  FROM p),
      |fy AS (
      |  SELECT doc_id, seed, x,
      |    unnest(generate_series(CAST(0 AS BIGINT), h - 1)) AS y
      |  FROM fx),
      |s AS (
      |  SELECT doc_id,
      |    avg((3 * x + 5 * y + seed) % 256) AS mb,
      |    avg((7 * x + 11 * y + seed) % 256) AS mg,
      |    avg((13 * x + 17 * y + seed) % 256) AS mr
      |  FROM fy GROUP BY doc_id)
      |SELECT p.doc_id, CAST(p.w AS INT) AS width,
      |  CAST(p.h AS INT) AS height,
      |  round(s.mb, 6) AS mean_b, round(s.mg, 6) AS mean_g,
      |  round(s.mr, 6) AS mean_r
      |FROM p JOIN s ON s.doc_id = p.doc_id
      |ORDER BY p.doc_id""".stripMargin

  /** REAL PNG decode gate ([[graft.pipeline.MediaCodecs.parsePng]]):
    * per doc a genuine PNG (signature, CRC'd chunks, multi-IDAT
    * zlib-deflated scanlines, per-row filters cycling all five types)
    * is SERIALIZED, then the decoder inflates and reverses the filters
    * to report dimensions + exact channel means. The oracle never sees
    * bytes: it replays the pixel synthesis arithmetic, so the paths
    * meet only if deflate↔inflate, the filter math, and the chunk walk
    * are all right. Odd docs carry an alpha channel (RGBA). */
  def q144_png_decode(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark; import spark2.implicits._
    val ids = docs(spark, dir).select(col("doc_id"))
      .filter(col("doc_id") < 50).as[Long]
    val synth = ids.mapPartitions(_.map { id =>
      val w = 4 + (id % 5).toInt
      val h = 3 + (id % 4).toInt
      (id, graft.pipeline.MediaCodecs.pngBytes(w, h, (id % 100).toInt,
        alpha = id % 2 == 1))
    }).toDF("doc_id", "media")
    graft.pipeline.MediaCodecs.decodePng(synth, "doc_id", "media")
      .withColumn("mean_r", round(col("mean_r"), 6))
      .withColumn("mean_g", round(col("mean_g"), 6))
      .withColumn("mean_b", round(col("mean_b"), 6))
      .orderBy("doc_id")
  }

  val q144_sql: String =
    """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 50),
      |p AS (
      |  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h,
      |    doc_id % 100 AS seed,
      |    CASE WHEN doc_id % 2 = 1 THEN 4 ELSE 3 END AS ch
      |  FROM ids),
      |fx AS (
      |  SELECT doc_id, seed, h,
      |    unnest(generate_series(CAST(0 AS BIGINT), w - 1)) AS x
      |  FROM p),
      |fy AS (
      |  SELECT doc_id, seed, x,
      |    unnest(generate_series(CAST(0 AS BIGINT), h - 1)) AS y
      |  FROM fx),
      |s AS (
      |  SELECT doc_id,
      |    avg((13 * x + 17 * y + seed) % 256) AS mr,
      |    avg((7 * x + 11 * y + seed) % 256) AS mg,
      |    avg((3 * x + 5 * y + seed) % 256) AS mb
      |  FROM fy GROUP BY doc_id)
      |SELECT p.doc_id, CAST(p.w AS INT) AS width,
      |  CAST(p.h AS INT) AS height, CAST(p.ch AS INT) AS channels,
      |  round(s.mr, 6) AS mean_r, round(s.mg, 6) AS mean_g,
      |  round(s.mb, 6) AS mean_b
      |FROM p JOIN s ON s.doc_id = p.doc_id
      |ORDER BY p.doc_id""".stripMargin

  /** Co-located curation apply ([[graft.pipeline.Curation
    * .bucketedApply]]): the duplicated corpus plus two artifact frames
    * — a length-derived quality score and the exact-dedup keep-list —
    * persisted as co-bucketed tables and joined back WITHOUT a single
    * shuffle exchange or sort on the join path (bucket-pair sort-merge;
    * `BucketedApplySpec` pins the plan contract). The oracle replays
    * the same joins over the raw parquet — values identical, plan
    * shape the point. */
  def q143_bucketed_curate(spark: SparkSession, dir: String)
      : DataFrame = {
    val c = corpusWithDups(spark, dir)
    val quality = c.select(col("doc_id"),
      round(least(length(col("text")) / lit(1000.0), lit(1.0)), 6)
        .as("qscore"))
    val keeps = Dedup.exact(c, "doc_id", "text")
      .select(col("keep_id").as("doc_id"), lit(1L).as("keep"))
    graft.pipeline.Curation.bucketedApply(
        c.select("doc_id"), "doc_id",
        Seq(("quality", quality, "inner"), ("keep", keeps, "left")),
        "bk143", buckets = 8)
      .select(col("doc_id"), col("qscore"),
        coalesce(col("keep"), lit(0L)).as("keep"))
      .orderBy("doc_id")
  }

  val q143_sql: String =
    s"""WITH corpus AS ($CorpusWithDupsSql),
       |q AS (
       |  SELECT doc_id,
       |    round(least(length(text) / 1000.0, 1.0), 6) AS qscore
       |  FROM corpus),
       |k AS (
       |  SELECT min(doc_id) AS doc_id, 1 AS keep
       |  FROM corpus GROUP BY md5(lower(text)))
       |SELECT c.doc_id, q.qscore,
       |  CAST(coalesce(k.keep, 0) AS BIGINT) AS keep
       |FROM corpus c
       |JOIN q USING (doc_id)
       |LEFT JOIN k USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Label agreement ([[graft.analysis.Agreement.cohenKappa]]):
    * Cohen's kappa between each document's DECLARED `lang` and the
    * engine's [[TextAnalysis.langId]] prediction — the label-QA read
    * "is the metadata consistent with the content?". The statistic is
    * integer math until one final division (the operator's
    * float-parity design), so the oracle replays it exactly. */
  def q147_kappa(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(col("lang"), TextAnalysis.langId(col("text")).as("pred"))
    graft.analysis.Agreement.cohenKappa(d, "lang", "pred")
  }

  val q147_sql: String = {
    val profiles = TextAnalysis.LangProfiles.toSeq.sortBy(_._1)
    val arms = profiles.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""SELECT doc_id, '$lang' AS lang,
         |    CASE WHEN len(tk) = 0 THEN 0.0
         |         ELSE CAST(len(list_filter(tk, t -> list_contains($lst, t)))
         |              AS DOUBLE) / len(tk) END AS score
         |  FROM toks""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    string_split_regex(trim(lower(text)), '\\s+') AS tk,
       |    length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g'))
       |      AS cjk,
       |    length(text) AS n
       |  FROM documents),
       |scored AS (
       |  $arms),
       |best AS (
       |  SELECT doc_id, lang, score, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
       |  FROM scored),
       |lng AS (
       |  SELECT t.doc_id,
       |    CASE WHEN t.cjk * 2 > t.n THEN 'zh'
       |         WHEN b.score > 0 THEN b.lang
       |         ELSE 'und' END AS pred
       |  FROM toks t JOIN best b ON b.doc_id = t.doc_id AND b.rn = 1),
       |pairs AS (
       |  SELECT d.lang AS a, l.pred AS b
       |  FROM documents d JOIN lng l ON l.doc_id = d.doc_id
       |  WHERE d.lang IS NOT NULL AND l.pred IS NOT NULL),
       |cells AS (SELECT a, b, count(*) AS c FROM pairs GROUP BY 1, 2),
       |tot AS (
       |  SELECT CAST(sum(c) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT)
       |      AS agree
       |  FROM cells),
       |ma AS (SELECT a, sum(c) AS na FROM cells GROUP BY 1),
       |mb AS (SELECT b, sum(c) AS nb FROM cells GROUP BY 1),
       |sp AS (
       |  SELECT coalesce(sum(CAST(na AS HUGEINT) * nb),
       |    CAST(0 AS HUGEINT)) AS s
       |  FROM ma JOIN mb ON mb.b = ma.a)
       |SELECT n, agree,
       |  CASE WHEN n > 0 THEN
       |    round(CAST(agree AS DOUBLE) / CAST(n AS DOUBLE), 6) END
       |    AS po,
       |  CASE WHEN n > 0 THEN
       |    round(CAST(s AS DOUBLE) /
       |      CAST(CAST(n AS HUGEINT) * n AS DOUBLE), 6) END AS pe,
       |  CASE WHEN n > 0 AND CAST(n AS HUGEINT) * n <> s THEN
       |    round(CAST(CAST(agree AS HUGEINT) * n - s AS DOUBLE) /
       |      CAST(CAST(n AS HUGEINT) * n - s AS DOUBLE), 6) END
       |    AS kappa
       |FROM tot CROSS JOIN sp""".stripMargin
  }

  /** Corpus snapshot diff ([[graft.pipeline.Snapshots.snapshotDiff]]):
    * documents vs a deterministically mutated next crawl — every
    * doc_id ≡ 3 (mod 17) dropped, ≡ 5 (mod 11) re-crawled with new
    * text, plus fresh ids for ≡ 0 (mod 13). One full-outer hash join;
    * the oracle replays the mutation and the fixed-width per-column
    * md5 hash spelling. */
  def q148_snapshot_diff(spark: SparkSession, dir: String)
      : DataFrame = {
    val prev = docs(spark, dir).select("doc_id", "text")
    val curr = prev
      .filter(col("doc_id") % 17 =!= 3)
      .withColumn("text", when(col("doc_id") % 11 === 5,
        concat(col("text"), lit(" v2"))).otherwise(col("text")))
      .unionByName(prev.filter(col("doc_id") % 13 === 0).select(
        (col("doc_id") + 2000000).as("doc_id"),
        concat(col("text"), lit(" new")).as("text")))
    graft.pipeline.Snapshots.snapshotDiff(prev, curr, "doc_id",
        Seq("text"))
      .orderBy("doc_id")
  }

  val q148_sql: String =
    """WITH prev AS (SELECT doc_id, text FROM documents),
      |curr AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 11 = 5 THEN text || ' v2' ELSE text END
      |      AS text
      |  FROM prev WHERE doc_id % 17 <> 3
      |  UNION ALL
      |  SELECT doc_id + 2000000 AS doc_id, text || ' new' AS text
      |  FROM prev WHERE doc_id % 13 = 0),
      |hp AS (
      |  SELECT doc_id,
      |    md5(coalesce(md5(CAST(text AS VARCHAR)), repeat('!', 32)))
      |      AS hash_prev
      |  FROM prev),
      |hc AS (
      |  SELECT doc_id,
      |    md5(coalesce(md5(CAST(text AS VARCHAR)), repeat('!', 32)))
      |      AS hash_curr
      |  FROM curr)
      |SELECT coalesce(hp.doc_id, hc.doc_id) AS doc_id,
      |  CASE WHEN hp.hash_prev IS NULL THEN 'added'
      |       WHEN hc.hash_curr IS NULL THEN 'removed'
      |       WHEN hp.hash_prev = hc.hash_curr THEN 'unchanged'
      |       ELSE 'changed' END AS status,
      |  hp.hash_prev, hc.hash_curr
      |FROM hp FULL OUTER JOIN hc ON hc.doc_id = hp.doc_id
      |ORDER BY doc_id""".stripMargin

  /** Blocked fuzzy linkage ([[graft.pipeline.Linkage.linkPairs]]):
    * entity strings = each doc's 16-char lowercase prefix, blocked on
    * the 6-char whitespace-stripped prefix, verified with exact
    * Levenshtein ≤ 2 — never an all-pairs join. The oracle replays
    * blocking + edit distance (DuckDB ships the same classic
    * levenshtein). */
  def q149_linkage(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(col("doc_id"),
        substring(lower(col("text")), 1, 16).as("name"))
    graft.pipeline.Linkage.linkPairs(d, "doc_id", "name",
        maxDist = 2, prefixLen = 6)
      .orderBy("id_a", "id_b")
  }

  val q149_sql: String =
    """WITH n AS (
      |  SELECT doc_id, substring(lower(text), 1, 16) AS name,
      |    substring(regexp_replace(lower(substring(lower(text), 1, 16)),
      |      '\s+', '', 'g'), 1, 6) AS blk
      |  FROM documents
      |  WHERE text IS NOT NULL AND length(text) > 0)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  a.name AS name_a, b.name AS name_b,
      |  CAST(levenshtein(a.name, b.name) AS INT) AS dist
      |FROM n a JOIN n b ON b.blk = a.blk AND a.doc_id < b.doc_id
      |WHERE levenshtein(a.name, b.name) <= 2
      |ORDER BY id_a, id_b""".stripMargin

  /** Deterministic stratified sample ([[graft.pipeline.Curation
    * .stratifiedSample]]): 5 docs per (lang, source) stratum by
    * md5-of-id order — heap-bounded per stratum, never a window; the
    * oracle is the plain QUALIFY row_number spelling of the same
    * md5 draw. */
  def q150_stratified(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Curation.stratifiedSample(
        docs(spark, dir), Seq("lang", "source"), "doc_id", n = 5)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")

  val q150_sql: String =
    """SELECT doc_id, lang, source FROM documents
      |QUALIFY row_number() OVER (
      |  PARTITION BY lang, source
      |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 5
      |ORDER BY doc_id""".stripMargin

  /** Hash split assignment ([[graft.pipeline.Curation.assignSplits]]):
    * 90/5/5 train/val/test from the first 8 hex digits of
    * md5(id ‖ salt) — growth-stable, salt-redrawable; the oracle is a
    * string CASE against the same driver-computed hex thresholds. */
  def q151_splits(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Curation.assignSplits(
        docs(spark, dir).select("doc_id"), "doc_id",
        Seq(("train", 0.9), ("val", 0.05), ("test", 0.05)),
        salt = "s11")
      .orderBy("doc_id")

  val q151_sql: String =
    """SELECT doc_id,
      |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || 's11'),
      |    1, 8) < 'e6666666' THEN 'train'
      |       WHEN substring(md5(CAST(doc_id AS VARCHAR) || 's11'),
      |    1, 8) < 'f3333333' THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Flesch reading ease ([[TextAnalysis.readability]]): exact word /
    * sentence / vowel-group counters and the 206.835 linear score —
    * three ints and one mirrored float expression per doc. */
  def q152_readability(spark: SparkSession, dir: String): DataFrame = {
    val r = TextAnalysis.readability(docs(spark, dir), "doc_id", "text")
    r.select(col("doc_id"),
        col("n_words").cast("long").as("n_words"),
        col("n_sentences").cast("long").as("n_sentences"),
        col("n_syllables").cast("long").as("n_syllables"),
        col("flesch"))
      .orderBy("doc_id")
  }

  val q152_sql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    len(list_filter(string_split_regex(trim(lower(text)),
      |      '\s+'), w -> w <> '')) AS w,
      |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
      |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS y
      |  FROM documents)
      |SELECT doc_id,
      |  CASE WHEN w > 0 THEN w END AS n_words,
      |  CASE WHEN w > 0 THEN s END AS n_sentences,
      |  CASE WHEN w > 0 THEN y END AS n_syllables,
      |  CASE WHEN w > 0 THEN
      |    round(206.835 - 1.015 * (CAST(w AS DOUBLE) / s)
      |      - 84.6 * (CAST(y AS DOUBLE) / w), 6) END AS flesch
      |FROM m ORDER BY doc_id""".stripMargin

  /** Perceptual image dedup ([[graft.pipeline.MediaCodecs
    * .aHashBmp]]): genuine BMPs are serialized per doc (dimensions
    * and pixel seed derived from doc_id so every 30th doc is a
    * pixel-identical re-encode), REALLY decoded, aHashed (8×8
    * nearest-neighbor grid, integer gray sums, 64·g > Σ bits), and
    * grouped by hash — the decode→feature→hash→dedup chain a
    * multimodal pipeline runs. The oracle replays sampling, bit math
    * and grouping arithmetically; it matches only if the BMP
    * serializer, the parser, and the hash all agree. */
  def q153_image_phash(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark; import spark2.implicits._
    val ids = docs(spark, dir).select(col("doc_id"))
      .filter(col("doc_id") < 60).as[Long]
    val synth = ids.mapPartitions(_.map { id =>
      val w = 4 + (id % 3).toInt
      val h = 3 + (id % 2).toInt
      (id, graft.pipeline.MediaCodecs.bmpBytes(w, h, (id % 10).toInt))
    }).toDF("doc_id", "media")
    // pinned: the group census and the join both read the hashes —
    // unpersisted, the decode kernel would run twice per row
    val hashed = graft.pipeline.MediaCodecs
      .aHashBmp(synth, "doc_id", "media")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val groups = hashed.groupBy("ahash")
      .agg(count(lit(1)).as("n_same"))
    hashed.join(groups, Seq("ahash"))
      .select("doc_id", "ahash", "n_same")
      .orderBy("doc_id")
  }

  val q153_sql: String =
    """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 60),
      |p AS (
      |  SELECT doc_id, 4 + doc_id % 3 AS w, 3 + doc_id % 2 AS h,
      |    doc_id % 10 AS seed
      |  FROM ids),
      |gi AS (
      |  SELECT doc_id, w, h, seed,
      |    unnest(generate_series(CAST(0 AS BIGINT), 7)) AS i
      |  FROM p),
      |gj AS (
      |  SELECT doc_id, w, h, seed, i,
      |    unnest(generate_series(CAST(0 AS BIGINT), 7)) AS j
      |  FROM gi),
      |g AS (
      |  SELECT doc_id, i, j,
      |    ((3 * sx + 5 * sy + seed) % 256) +
      |    ((7 * sx + 11 * sy + seed) % 256) +
      |    ((13 * sx + 17 * sy + seed) % 256) AS gray
      |  FROM (SELECT doc_id, i, j, seed,
      |          (i * w) // 8 AS sx, (j * h) // 8 AS sy
      |        FROM gj)),
      |t AS (SELECT doc_id, sum(gray) AS total FROM g GROUP BY 1),
      |b AS (
      |  SELECT g.doc_id, g.i, g.j,
      |    CASE WHEN 64 * g.gray > t.total THEN '1' ELSE '0' END AS bit
      |  FROM g JOIN t ON t.doc_id = g.doc_id),
      |hsh AS (
      |  SELECT doc_id, string_agg(bit, '' ORDER BY j, i) AS ahash
      |  FROM b GROUP BY 1),
      |cnt AS (
      |  SELECT ahash, CAST(count(*) AS BIGINT) AS n_same
      |  FROM hsh GROUP BY 1)
      |SELECT h.doc_id, h.ahash, c.n_same
      |FROM hsh h JOIN cnt c ON c.ahash = h.ahash
      |ORDER BY h.doc_id""".stripMargin

  /** Changeset apply ([[graft.pipeline.Snapshots.applyChangeset]]):
    * deletes every 13th doc, upserts new text into every 7th,
    * inserts fresh ids for every 31st — one full-outer join builds
    * the next snapshot; the oracle replays ops and the winner rule. */
  def q155_apply_changeset(spark: SparkSession, dir: String)
      : DataFrame = {
    val base = docs(spark, dir).select("doc_id", "text")
    val changes = base.filter(col("doc_id") % 13 === 0)
      .select(col("doc_id"), lit("d").as("op"),
        lit(null).cast("string").as("text"))
      .unionByName(base
        .filter(col("doc_id") % 7 === 0 && col("doc_id") % 13 =!= 0)
        .select(col("doc_id"), lit("u").as("op"),
          concat(col("text"), lit(" upd")).as("text")))
      .unionByName(base.filter(col("doc_id") % 31 === 0)
        .select((col("doc_id") + 3000000).as("doc_id"),
          lit("u").as("op"),
          concat(col("text"), lit(" ins")).as("text")))
    graft.pipeline.Snapshots.applyChangeset(base, changes, "doc_id",
        "op", Seq("text"))
      .orderBy("doc_id")
  }

  val q155_sql: String =
    """WITH base AS (SELECT doc_id, text FROM documents),
      |ch AS (
      |  SELECT doc_id, 'd' AS op, CAST(NULL AS VARCHAR) AS text
      |  FROM base WHERE doc_id % 13 = 0
      |  UNION ALL
      |  SELECT doc_id, 'u', text || ' upd' FROM base
      |  WHERE doc_id % 7 = 0 AND doc_id % 13 <> 0
      |  UNION ALL
      |  SELECT doc_id + 3000000, 'u', text || ' ins' FROM base
      |  WHERE doc_id % 31 = 0),
      |j AS (
      |  SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
      |    b.text AS bt, c.op, c.text AS ct
      |  FROM base b FULL OUTER JOIN ch c ON c.doc_id = b.doc_id)
      |SELECT doc_id,
      |  CASE WHEN op IS NOT NULL THEN ct ELSE bt END AS text
      |FROM j WHERE op IS NULL OR op <> 'd'
      |ORDER BY doc_id""".stripMargin

  /** Mixture diversity ([[TextAnalysis.mixtureDiversity]]): per
    * (lang, source) cell the corpus share and Shannon entropy term —
    * per-cell rows, H and the effective source count are downstream
    * sums. */
  def q156_mixture(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.mixtureDiversity(docs(spark, dir),
        Seq("lang", "source"))
      .orderBy("lang", "source")

  val q156_sql: String =
    """WITH c AS (
      |  SELECT lang, source, count(*) AS n
      |  FROM documents GROUP BY 1, 2),
      |t AS (SELECT sum(n) AS tot FROM c)
      |SELECT lang, source, n,
      |  round(CAST(n AS DOUBLE) / tot, 6) AS share,
      |  round(0.0 - (CAST(n AS DOUBLE) / tot)
      |    * ln(CAST(n AS DOUBLE) / tot), 6) AS entropy_term
      |FROM c CROSS JOIN t ORDER BY lang, source""".stripMargin

  /** Token-budget corpus cut ([[graft.pipeline.Curation
    * .tokenBudgetCut]]): keep docs in md5-of-id order while the
    * running whitespace-token total stays ≤ 8000 — the distributed
    * prefix sum (range repartition + per-partition cumsums + driver
    * base offsets) vs the oracle's single ordered window sum. */
  def q158_token_budget(spark: SparkSession, dir: String): DataFrame = {
    val withTok = docs(spark, dir).select(col("doc_id"),
      greatest(lit(0), size(filter(TextAnalysis.tokens(col("text")),
        w => w =!= ""))).as("tok"))
    graft.pipeline.Curation.tokenBudgetCut(withTok, "doc_id", "tok",
        budget = 8000L)
      .orderBy("doc_id")
  }

  val q158_sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    greatest(0, coalesce(len(list_filter(
      |      string_split_regex(trim(lower(text)), '\s+'),
      |      w -> w <> '')), 0)) AS tok,
      |    md5(CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, tok,
      |    sum(tok) OVER (ORDER BY h, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM t)
      |SELECT doc_id, CAST(tok AS BIGINT) AS n_tokens,
      |  CAST(cum AS BIGINT) AS cum_tokens
      |FROM c WHERE cum <= 8000 ORDER BY doc_id""".stripMargin

  /** REAL JPEG decode gate ([[graft.pipeline.MediaCodecs.parseJpeg]]
    * over the JDK's own `javax.imageio` codec): per doc a genuine
    * JPEG is ENCODED (odd docs grayscale, even RGB), then decoded
    * back. JPEG is lossy, so the gate carries ONLY the
    * exactly-replayable facts — dimensions and channel count; the
    * pixel-level path (aHash) is pinned by same-JVM round trips in
    * MediaCodecsSpec instead. */
  def q159_jpeg_decode(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark; import spark2.implicits._
    val ids = docs(spark, dir).select(col("doc_id"))
      .filter(col("doc_id") < 60).as[Long]
    val synth = ids.mapPartitions(_.map { id =>
      val w = 6 + (id % 7).toInt
      val h = 4 + (id % 5).toInt
      (id, graft.pipeline.MediaCodecs.jpegBytes(w, h, (id % 50).toInt,
        gray = id % 2 == 1))
    }).toDF("doc_id", "media")
    graft.pipeline.MediaCodecs.decodeJpeg(synth, "doc_id", "media")
      .orderBy("doc_id")
  }

  val q159_sql: String =
    """SELECT doc_id,
      |  CAST(6 + doc_id % 7 AS INT) AS width,
      |  CAST(4 + doc_id % 5 AS INT) AS height,
      |  CAST(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 3 END AS INT)
      |    AS channels
      |FROM documents WHERE doc_id < 60
      |ORDER BY doc_id""".stripMargin

  /** [[Snapshots.applyChangesetBucketed]] — the SAME changeset
    * synthesis (and oracle) as q155, routed through bucketed tables:
    * the full-outer payload join reads co-bucketed sides with zero
    * exchange and zero sort (plan pinned in SnapshotsSpec; shuffle
    * delta measured in BucketedProbe). Proving value-identity through
    * the bucketed path is the point of the gate. */
  def q160_bucketed_changeset(spark: SparkSession, dir: String)
      : DataFrame = {
    val base = docs(spark, dir).select("doc_id", "text")
    val changes = base.filter(col("doc_id") % 13 === 0)
      .select(col("doc_id"), lit("d").as("op"),
        lit(null).cast("string").as("text"))
      .unionByName(base
        .filter(col("doc_id") % 7 === 0 && col("doc_id") % 13 =!= 0)
        .select(col("doc_id"), lit("u").as("op"),
          concat(col("text"), lit(" upd")).as("text")))
      .unionByName(base.filter(col("doc_id") % 31 === 0)
        .select((col("doc_id") + 3000000).as("doc_id"),
          lit("u").as("op"),
          concat(col("text"), lit(" ins")).as("text")))
    graft.pipeline.Snapshots.applyChangesetBucketed(base, changes,
        "doc_id", "op", Seq("text"), "q160cs", buckets = 8)
      .orderBy("doc_id")
  }

  /** Script-mix audit ([[TextAnalysis.scriptMix]]): per doc the
    * character count and fraction per Unicode script block. The text
    * is SYNTHESIZED with known per-script counts (the PNG-gate
    * pattern), so the oracle is ground-truth arithmetic and the gate
    * tests the regexp counting path end-to-end. */
  def q161_script_mix(spark: SparkSession, dir: String): DataFrame = {
    val ids = docs(spark, dir).select(col("doc_id"))
      .filter(col("doc_id") < 200)
    val synth = ids.select(col("doc_id"), concat(
      expr("repeat('a', CAST(doc_id % 5 + 1 AS INT))"),
      expr("repeat('д', CAST(doc_id % 3 AS INT))"),
      expr("repeat('中', CAST(doc_id % 4 AS INT))"),
      expr("repeat('7', CAST(doc_id % 2 AS INT))"),
      lit(" zz")).as("text"))
    TextAnalysis.scriptMix(synth, "doc_id", "text")
      .orderBy("doc_id")
  }

  val q161_sql: String =
    """WITH p AS (
      |  SELECT doc_id,
      |    doc_id % 5 + 1 + 2 AS nl, doc_id % 3 AS ncy,
      |    doc_id % 4 AS ncjk, doc_id % 2 AS nd
      |  FROM documents WHERE doc_id < 200),
      |s AS (SELECT *, nl + ncy + ncjk + nd AS ns FROM p)
      |SELECT doc_id, CAST(ns AS INT) AS n_chars_ns,
      |  CAST(nl AS INT) AS n_latin,
      |  round(CAST(nl AS DOUBLE) / ns, 6) AS f_latin,
      |  CAST(ncy AS INT) AS n_cyrillic,
      |  round(CAST(ncy AS DOUBLE) / ns, 6) AS f_cyrillic,
      |  CAST(ncjk AS INT) AS n_cjk,
      |  round(CAST(ncjk AS DOUBLE) / ns, 6) AS f_cjk,
      |  CAST(0 AS INT) AS n_arabic, 0.0 AS f_arabic,
      |  CAST(0 AS INT) AS n_greek, 0.0 AS f_greek,
      |  CAST(nd AS INT) AS n_digit,
      |  round(CAST(nd AS DOUBLE) / ns, 6) AS f_digit,
      |  CAST(0 AS INT) AS n_other
      |FROM s ORDER BY doc_id""".stripMargin

  /** NFC text normalization ([[TextAnalysis.normalizeText]]): the
    * JVM's Unicode NFC vs DuckDB's `nfc_normalize` over synthesized
    * decomposed accents + whitespace mess + control bytes — the gate
    * passes only if the two independent NFC implementations and the
    * collapse/strip/trim pipeline agree character-for-character. */
  def q162_nfc_normalize(spark: SparkSession, dir: String)
      : DataFrame = {
    val ids = docs(spark, dir).select(col("doc_id"))
      .filter(col("doc_id") < 150)
    val synth = ids.select(col("doc_id"),
      when(col("doc_id") % 5 === 4, lit("plain text"))
        .otherwise(concat(lit(" café"),
          expr("repeat('\t', CAST(doc_id % 2 AS INT))"),
          lit(" end"),
          when(col("doc_id") % 3 === 0, lit(""))
            .otherwise(lit("")))).as("text"))
    TextAnalysis.normalizeText(synth, "doc_id", "text")
      .orderBy("doc_id")
  }

  val q162_sql: String =
    """WITH s AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 4 THEN 'plain text'
      |      ELSE ' cafe' || chr(769) ||
      |        repeat(chr(9), CAST(doc_id % 2 AS INT)) || ' end' ||
      |        CASE WHEN doc_id % 3 = 0 THEN chr(1) ELSE '' END
      |    END AS text
      |  FROM documents WHERE doc_id < 150),
      |n AS (
      |  SELECT doc_id, text,
      |    trim(regexp_replace(
      |      regexp_replace(nfc_normalize(text),
      |        '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x{80}-\x{9F}]', '',
      |        'g'),
      |      '[ \t\n\r\f\x0B]+', ' ', 'g')) AS tn
      |  FROM s)
      |SELECT doc_id, tn AS text_norm,
      |  CAST(CASE WHEN tn = text THEN 0 ELSE 1 END AS BIGINT)
      |    AS changed,
      |  CAST(length(text) AS BIGINT) AS len_before,
      |  CAST(length(tn) AS BIGINT) AS len_after
      |FROM n ORDER BY doc_id""".stripMargin

  private val luhnValid = Seq("4532015112830366", "5425233430109903",
    "374245455400126", "6011000991300009")
  private val luhnBad = Seq("4532015112830367", "5425233430109904",
    "374245455400127", "6011000991300000")

  /** Luhn payment-card scan ([[TextAnalysis.luhnScan]]): texts carry
    * one KNOWN-valid PAN (verified offline) and, on even ids, one
    * corrupted twin — the oracle is ground-truth arithmetic while the
    * Spark path runs the real regexp + HOF mod-10 checksum. */
  def q163_luhn(spark: SparkSession, dir: String): DataFrame = {
    val ids = docs(spark, dir).select(col("doc_id"))
      .filter(col("doc_id") < 200)
    val vArr = array(luhnValid.map(lit): _*)
    val bArr = array(luhnBad.map(lit): _*)
    val synth = ids.select(col("doc_id"), concat(
      lit("pay "),
      element_at(vArr, (col("doc_id") % 4 + 1).cast("int")),
      when(col("doc_id") % 2 === 0,
        concat(lit(" and "),
          element_at(bArr, (col("doc_id") % 4 + 1).cast("int"))))
        .otherwise(lit(" none")),
      lit(" end")).as("text"))
    TextAnalysis.luhnScan(synth, "doc_id", "text")
      .orderBy("doc_id")
  }

  val q163_sql: String =
    """SELECT doc_id,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS INT)
      |    AS n_candidates,
      |  CAST(1 AS INT) AS n_luhn_valid
      |FROM documents WHERE doc_id < 200
      |ORDER BY doc_id""".stripMargin

  /** Pairwise source vocabulary Jaccard
    * ([[TextAnalysis.vocabOverlap]]): the source-level duplicate
    * detector, over the real corpus. Token-keyed join over
    * vocabulary cells; counts exact, Jaccard rounded. */
  def q164_vocab_overlap(spark: SparkSession, dir: String)
      : DataFrame =
    TextAnalysis.vocabOverlap(docs(spark, dir), "source", "text")
      .orderBy("ga", "gb")

  val q164_sql: String =
    """WITH v AS (
      |  SELECT DISTINCT source AS g, tok FROM (
      |    SELECT source, unnest(string_split_regex(
      |      trim(lower(text)), '\s+')) AS tok
      |    FROM documents) WHERE tok <> ''),
      |sz AS (SELECT g, count(*) AS nv FROM v GROUP BY 1),
      |i AS (
      |  SELECT a.g AS ga, b.g AS gb, count(*) AS n_inter
      |  FROM v a JOIN v b ON a.tok = b.tok AND a.g < b.g
      |  GROUP BY 1, 2)
      |SELECT i.ga, i.gb, sa.nv AS na, sb.nv AS nb, i.n_inter,
      |  round(CAST(i.n_inter AS DOUBLE) /
      |    (sa.nv + sb.nv - i.n_inter), 6) AS jaccard
      |FROM i JOIN sz sa ON sa.g = i.ga JOIN sz sb ON sb.g = i.gb
      |ORDER BY i.ga, i.gb""".stripMargin

  /** Sentence statistics ([[TextAnalysis.sentenceStats]]) over
    * deterministically punctuated corpus text (every 5th word gains a
    * period — both engines run the identical regexp rewrite), so the
    * split/count/mean/max pipeline is exercised on real token
    * content. */
  def q165_sentences(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).filter(col("doc_id") < 300)
      .select(col("doc_id"),
        regexp_replace(col("text"),
          "(\\w+ \\w+ \\w+ \\w+ \\w+) ", "$1. ").as("text"))
    TextAnalysis.sentenceStats(d, "doc_id", "text")
      .orderBy("doc_id")
  }

  val q165_sql: String =
    """WITH p AS (
      |  SELECT doc_id, regexp_replace(text,
      |    '(\w+ \w+ \w+ \w+ \w+) ', '\1. ', 'g') AS text
      |  FROM documents WHERE doc_id < 300),
      |s AS (
      |  SELECT doc_id,
      |    list_filter(list_transform(
      |      string_split_regex(text, '[.!?]+'), x -> trim(x)),
      |      x -> x <> '') AS sents
      |  FROM p),
      |t AS (
      |  SELECT doc_id,
      |    list_transform(sents, x -> len(list_filter(
      |      string_split_regex(x, '\s+'), w -> w <> ''))) AS tc,
      |    len(sents) AS nsent
      |  FROM s)
      |SELECT doc_id, CAST(nsent AS INT) AS n_sentences,
      |  CAST(list_aggregate(tc, 'sum') AS INT) AS n_tokens,
      |  round(CAST(list_aggregate(tc, 'sum') AS DOUBLE) / nsent, 6)
      |    AS mean_sentence_tokens,
      |  CAST(list_max(tc) AS INT) AS max_sentence_tokens
      |FROM t ORDER BY doc_id""".stripMargin

  /** Character-entropy cells ([[TextAnalysis.charEntropyCells]]):
    * per (doc, char) the count, probability, and −p·log₂p term —
    * per-cell rows, never a cross-row float sum (the q156
    * convention); per-doc H is a downstream sum. */
  def q166_char_entropy(spark: SparkSession, dir: String)
      : DataFrame =
    TextAnalysis.charEntropyCells(
        docs(spark, dir).filter(col("doc_id") < 100),
        "doc_id", "text")
      .orderBy("doc_id", "ch")

  val q166_sql: String =
    """WITH c AS (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '[^ ]')) AS ch
      |  FROM documents WHERE doc_id < 100),
      |cells AS (
      |  SELECT doc_id, ch, count(*) AS n FROM c GROUP BY 1, 2),
      |tot AS (SELECT doc_id, sum(n) AS t FROM cells GROUP BY 1)
      |SELECT cells.doc_id, ch, n,
      |  round(CAST(n AS DOUBLE) / t, 6) AS p,
      |  round(0.0 - (CAST(n AS DOUBLE) / t)
      |    * (ln(CAST(n AS DOUBLE) / t) / ln(2)), 6) AS entropy_term
      |FROM cells JOIN tot ON tot.doc_id = cells.doc_id
      |ORDER BY cells.doc_id, ch""".stripMargin

  /** OOV rate ([[TextAnalysis.oovRate]]): every-5th-doc "new batch"
    * against the remaining corpus as reference vocabulary — the
    * incremental-crawl vocabulary-drift read. */
  def q170_oov_rate(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    TextAnalysis.oovRate(
        d.filter(col("doc_id") % 5 === 0),
        d.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text")
      .orderBy("doc_id")
  }

  val q170_sql: String =
    """WITH ref AS (
      |  SELECT DISTINCT tok FROM (
      |    SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
      |      AS tok
      |    FROM documents WHERE doc_id % 5 <> 0) WHERE tok <> ''),
      |bt AS (
      |  SELECT doc_id, tok FROM (
      |    SELECT doc_id, unnest(string_split_regex(
      |      trim(lower(text)), '\s+')) AS tok
      |    FROM documents WHERE doc_id % 5 = 0) WHERE tok <> ''),
      |a AS (
      |  SELECT bt.doc_id, count(*) AS n_tokens,
      |    sum(CASE WHEN r.tok IS NULL THEN 1 ELSE 0 END) AS n_oov
      |  FROM bt LEFT JOIN ref r ON r.tok = bt.tok GROUP BY 1)
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(n_oov AS BIGINT) AS n_oov,
      |  round(CAST(n_oov AS DOUBLE) / n_tokens, 6) AS oov_rate
      |FROM a ORDER BY doc_id""".stripMargin

  /** Int8 embedding quantization audit ([[Embeddings
    * .quantizeInt8Stats]]): per-vector symmetric scale + max
    * reconstruction error — floor(+0.5) rounding and an
    * order-independent max keep it engine-exact. */
  def q171_embed_int8(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Embeddings.quantizeInt8Stats(
        // empty arrays excluded on BOTH sides: the oracle's unnest
        // yields no rows for them, the Spark side would emit one
        embs(spark, dir).filter(col("embedding").isNotNull &&
          size(col("embedding")) > 0),
        "vec_id", "embedding")
      .orderBy("vec_id")

  val q171_sql: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings
      |  WHERE embedding IS NOT NULL AND len(embedding) > 0),
      |m AS (
      |  SELECT vec_id, max(abs(x)) AS mx, count(*) AS nd
      |  FROM e GROUP BY 1),
      |er AS (
      |  SELECT e.vec_id,
      |    abs(x - floor(x / (mx / 127.0) + 0.5) * (mx / 127.0)) AS d
      |  FROM e JOIN m ON m.vec_id = e.vec_id)
      |SELECT m.vec_id, CAST(nd AS INT) AS n_dims,
      |  round(mx / 127.0, 6) AS scale,
      |  CASE WHEN mx = 0 THEN 0.0 ELSE
      |    round((SELECT max(d) FROM er WHERE er.vec_id = m.vec_id), 6)
      |  END AS max_abs_err
      |FROM m ORDER BY m.vec_id""".stripMargin

  /** Deterministic keyword extraction ([[TextAnalysis.topTerms]]):
    * top-3 terms per doc by the integer-only (tf desc, df asc, term)
    * rank — no float comparison can flip a rank across engines. */
  def q172_keywords(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.topTerms(docs(spark, dir), "doc_id", "text", k = 3)
      .orderBy("doc_id", "rank")

  val q172_sql: String =
    """WITH tf AS (
      |  SELECT doc_id, tok AS term, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(string_split_regex(
      |      trim(lower(text)), '\s+')) AS tok
      |    FROM documents) WHERE tok <> '' GROUP BY 1, 2),
      |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS nn FROM documents),
      |r AS (
      |  SELECT doc_id, term, tf, df,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY tf DESC, df ASC, term ASC) AS rank
      |  FROM tf JOIN dft USING (term))
      |SELECT doc_id, CAST(rank AS INT) AS rank, term,
      |  CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
      |  round(CAST(tf AS DOUBLE)
      |    * ln(CAST(nn AS DOUBLE) / df), 6) AS tfidf
      |FROM r CROSS JOIN n WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin

  /** Multi-benchmark contamination attribution ([[Curation
    * .contaminationByBench]]): two synthesized eval sets drawn from
    * the corpus itself; hits group by (doc, benchmark). */
  def q173_multibench(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val bench = d.filter(col("doc_id") % 17 === 0)
      .select(lit("evalA").as("bench"), col("text"))
      .unionByName(d.filter(col("doc_id") % 23 === 0)
        .select(lit("evalB").as("bench"), col("text")))
    Curation.contaminationByBench(d, "doc_id", "text", bench,
        "bench", "text")
      .orderBy("doc_id", "benchmark")
  }

  val q173_sql: String =
    """WITH bench AS (
      |  SELECT 'evalA' AS benchmark, text FROM documents
      |  WHERE doc_id % 17 = 0
      |  UNION ALL
      |  SELECT 'evalB', text FROM documents WHERE doc_id % 23 = 0),
      |bg AS (
      |  SELECT DISTINCT benchmark, g FROM (
      |    SELECT benchmark, unnest(list_distinct(list_transform(
      |      generate_series(1, greatest(len(tk) - 12, 0)),
      |      i -> array_to_string(tk[i:i+12], ' ')))) AS g
      |    FROM (SELECT benchmark,
      |            string_split_regex(trim(lower(text)), '\s+') AS tk
      |          FROM bench))),
      |dg AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, greatest(len(tk) - 12, 0)),
      |    i -> array_to_string(tk[i:i+12], ' ')))) AS g
      |  FROM (SELECT doc_id,
      |          string_split_regex(trim(lower(text)), '\s+') AS tk
      |        FROM documents))
      |SELECT doc_id, benchmark, count(*) AS n_hits
      |FROM dg JOIN bg USING (g)
      |GROUP BY 1, 2 ORDER BY doc_id, benchmark""".stripMargin

  /** Per-language length percentile rank ([[Curation
    * .percentileRank]]): the cell-ladder spelling whose definition
    * matches SQL's percent_rank/cume_dist exactly — so the oracle IS
    * the window spelling, while the engine never runs a hot-key
    * per-group row window. */
  def q174_length_rank(spark: SparkSession, dir: String): DataFrame =
    Curation.percentileRank(
        docs(spark, dir).select("doc_id", "lang", "n_chars"),
        Seq("lang"), "n_chars")
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("double").as("v"),
        col("pct_rank"), col("cume_dist"))
      .orderBy("doc_id")

  val q174_sql: String =
    """SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS v,
      |  round(percent_rank() OVER
      |    (PARTITION BY lang ORDER BY n_chars), 6) AS pct_rank,
      |  round(cume_dist() OVER
      |    (PARTITION BY lang ORDER BY n_chars), 6) AS cume_dist
      |FROM documents WHERE n_chars IS NOT NULL
      |ORDER BY doc_id""".stripMargin

  /** Per-source hapax ratio ([[TextAnalysis.hapaxRatio]]): lexical
    * diversity over (source, token) cells — exact longs until one
    * division. */
  def q175_hapax(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.hapaxRatio(docs(spark, dir), "source", "text")
      .orderBy("g")

  val q175_sql: String =
    """WITH c AS (
      |  SELECT source AS g, tok, count(*) AS n FROM (
      |    SELECT source, unnest(string_split_regex(
      |      trim(lower(text)), '\s+')) AS tok
      |    FROM documents) WHERE tok <> '' GROUP BY 1, 2)
      |SELECT g, CAST(count(*) AS BIGINT) AS vocab,
      |  CAST(sum(n) AS BIGINT) AS n_tokens,
      |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS hapax,
      |  round(CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*), 6) AS hapax_ratio
      |FROM c GROUP BY g ORDER BY g""".stripMargin

  /** Cross-split leakage audit ([[Curation.splitLeakage]] ∘
    * [[Curation.assignSplits]]): every 11th doc gains an exact
    * content twin under a different id — ids hash to different
    * splits, so the duplicated CONTENT must surface as leakage. */
  /** χ² term selection ([[Classifier.chi2Terms]]) against the
    * is-English label: the "which terms separate the classes" audit a
    * curation pipeline runs before training a language/quality filter
    * (Yang & Pedersen 1997). Every χ² input is an exact long; the one
    * double expression is spelled identically in the oracle (the
    * squared difference as an explicit product, not pow). */
  def q178_chi2_terms(spark: SparkSession, dir: String): DataFrame =
    Classifier.chi2Terms(
      docs(spark, dir).withColumn("y",
        when(col("lang") === "en", 1L).otherwise(0L)),
      "doc_id", "text", "y", minDf = 5L, k = 50)

  val q178_sql: String =
    """WITH d AS (
      |  SELECT doc_id, text,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM documents WHERE text IS NOT NULL),
      |t AS (
      |  SELECT DISTINCT doc_id, y, term FROM (
      |    SELECT doc_id, y,
      |      unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      |    FROM d) WHERE term <> ''),
      |cells AS (
      |  SELECT term,
      |    sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS a,
      |    sum(CASE WHEN y = 1 THEN 0 ELSE 1 END) AS b
      |  FROM t GROUP BY 1),
      |tot AS (
      |  SELECT sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS n1,
      |         sum(CASE WHEN y = 1 THEN 0 ELSE 1 END) AS n0
      |  FROM d)
      |SELECT term, CAST(a + b AS BIGINT) AS df,
      |  CAST(a AS BIGINT) AS df_pos,
      |  round(CAST(n1 + n0 AS DOUBLE)
      |    * (CAST(a AS DOUBLE) * CAST(n0 - b AS DOUBLE)
      |       - CAST(b AS DOUBLE) * CAST(n1 - a AS DOUBLE))
      |    * (CAST(a AS DOUBLE) * CAST(n0 - b AS DOUBLE)
      |       - CAST(b AS DOUBLE) * CAST(n1 - a AS DOUBLE))
      |    / (CAST(a + b AS DOUBLE)
      |       * CAST((n1 - a) + (n0 - b) AS DOUBLE)
      |       * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)), 6) AS chi2
      |FROM cells CROSS JOIN tot
      |WHERE a + b >= 5 AND (n1 - a) + (n0 - b) > 0
      |ORDER BY chi2 DESC, term LIMIT 50""".stripMargin

  /** First-seen 5-gram novelty by crawl order
    * ([[Dedup.gramNovelty]]): per doc, the fraction of its distinct
    * gram hashes first seen AT this doc — the crawl-budget
    * diminishing-returns read. md5 gram identity replays exactly in
    * the oracle. */
  def q179_gram_novelty(spark: SparkSession, dir: String): DataFrame =
    Dedup.gramNovelty(docs(spark, dir).select("doc_id", "text"),
      "doc_id", "text", n = 5)
      .orderBy("doc_id")

  val q179_sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    string_split_regex(trim(lower(text)), '\s+') AS w
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, len(w) - 4),
      |    i -> md5(concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3],
      |      w[i+4])))) AS ghs
      |  FROM toks),
      |p AS (SELECT doc_id, unnest(ghs) AS gh FROM g),
      |f AS (SELECT gh, min(doc_id) AS first_id FROM p GROUP BY 1),
      |pd AS (
      |  SELECT p.doc_id, count(*) AS n_grams,
      |    sum(CASE WHEN f.first_id = p.doc_id THEN 1 ELSE 0 END)
      |      AS n_novel
      |  FROM p JOIN f USING (gh) GROUP BY 1)
      |SELECT d.doc_id,
      |  CAST(coalesce(pd.n_grams, 0) AS BIGINT) AS n_grams,
      |  CAST(coalesce(pd.n_novel, 0) AS BIGINT) AS n_novel,
      |  CASE WHEN pd.n_grams > 0 THEN
      |    round(CAST(pd.n_novel AS DOUBLE) / pd.n_grams, 6) END
      |    AS novelty
      |FROM documents d LEFT JOIN pd USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** Jensen–Shannon divergence cells per source vs the corpus mixture
    * ([[graft.analysis.Divergence.jsdCells]]): bounded top-16 + OTHER
    * support, per-cell contributions — every value one IEEE expression
    * over exact longs, replayed verbatim by the oracle. */
  def q180_jsd_cells(spark: SparkSession, dir: String): DataFrame =
    graft.analysis.Divergence.jsdCells(docs(spark, dir), "source",
        "text", topK = 16)
      .orderBy("source", "term")

  val q180_sql: String =
    """WITH w AS (
      |  SELECT source AS g,
      |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
      |  FROM documents
      |  WHERE text IS NOT NULL AND source IS NOT NULL),
      |counts AS (
      |  SELECT g, w, count(*) AS n FROM w WHERE w <> '' GROUP BY 1, 2),
      |vocab AS (
      |  SELECT w FROM (
      |    SELECT w, sum(n) AS cn FROM counts GROUP BY 1
      |    ORDER BY cn DESC, w LIMIT 16)),
      |folded AS (
      |  SELECT g, CASE WHEN w IN (SELECT w FROM vocab) THEN w
      |    ELSE '__other__' END AS term, sum(n) AS n
      |  FROM counts GROUP BY 1, 2),
      |corpus AS (SELECT term, sum(n) AS qn FROM folded GROUP BY 1),
      |gtot AS (SELECT g, sum(n) AS gt FROM folded GROUP BY 1),
      |tt AS (SELECT sum(qn) AS tt FROM corpus),
      |dense AS (
      |  SELECT gtot.g, corpus.term, gtot.gt, corpus.qn, tt.tt,
      |    coalesce(f.n, 0) AS n
      |  FROM gtot CROSS JOIN corpus CROSS JOIN tt
      |  LEFT JOIN folded f ON f.g = gtot.g AND f.term = corpus.term)
      |SELECT g AS source, term, CAST(n AS BIGINT) AS n,
      |  round(CAST(n AS DOUBLE) / gt, 6) AS p,
      |  round(CAST(qn AS DOUBLE) / tt, 6) AS q,
      |  round(CASE WHEN n = 0 THEN
      |    0.5 * (CAST(qn AS DOUBLE) / tt)
      |      * ln((CAST(qn AS DOUBLE) / tt)
      |        / ((CAST(n AS DOUBLE) / gt + CAST(qn AS DOUBLE) / tt)
      |          / 2.0))
      |  ELSE
      |    0.5 * (CAST(n AS DOUBLE) / gt)
      |      * ln((CAST(n AS DOUBLE) / gt)
      |        / ((CAST(n AS DOUBLE) / gt + CAST(qn AS DOUBLE) / tt)
      |          / 2.0))
      |    + 0.5 * (CAST(qn AS DOUBLE) / tt)
      |      * ln((CAST(qn AS DOUBLE) / tt)
      |        / ((CAST(n AS DOUBLE) / gt + CAST(qn AS DOUBLE) / tt)
      |          / 2.0))
      |  END, 6) AS jsd_term
      |FROM dense ORDER BY source, term""".stripMargin

  /** Dedup report ([[Dedup.clusterSizeHistogram]]): cluster-size
    * histogram over the near-dup components — duplicate rate and the
    * clique tail on one page; singletons ride as size 1. The oracle
    * replays the collapse+closure ([[CollapsedClosureSql]]) and
    * histograms it, so the sf0.1 sweep runs it without exclusion. */
  def q181_cluster_sizes(spark: SparkSession, dir: String): DataFrame =
    Dedup.clusterSizeHistogram(corpusWithDups(spark, dir),
      sharedComponents(spark, dir))

  val q181_sql: String =
    s"""WITH RECURSIVE corpus AS ($CorpusWithDupsSql),
       |$CollapsedClosureSql,
       |sz AS (SELECT comp, count(*) AS size FROM comps GROUP BY 1),
       |h AS (SELECT size, count(*) AS n_clusters FROM sz GROUP BY 1),
       |tot AS (SELECT count(*) AS n FROM corpus),
       |cl AS (SELECT coalesce(sum(size), 0) AS m FROM sz)
       |SELECT size, CAST(n_clusters AS BIGINT) AS n_clusters FROM (
       |  SELECT CAST(1 AS BIGINT) AS size, n - m AS n_clusters
       |  FROM tot CROSS JOIN cl WHERE n - m > 0
       |  UNION ALL
       |  SELECT CAST(size AS BIGINT), n_clusters FROM h)
       |ORDER BY size""".stripMargin

  /** Soft dedup ([[Dedup.dupWeights]]): per-doc 1/cluster-size loss
    * weights — the down-weighting alternative to hard removal; every
    * doc answers, singletons at weight 1. Oracle replays the
    * collapse+closure ([[CollapsedClosureSql]]) + size attach. */
  def q182_dup_weights(spark: SparkSession, dir: String): DataFrame =
    Dedup.dupWeights(corpusWithDups(spark, dir), "doc_id",
        sharedComponents(spark, dir))
      .orderBy("doc_id")

  val q182_sql: String =
    s"""WITH RECURSIVE corpus AS ($CorpusWithDupsSql),
       |$CollapsedClosureSql,
       |sz AS (SELECT comp, count(*) AS size FROM comps GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(coalesce(sz.size, 1) AS BIGINT) AS cluster_size,
       |  round(1.0 / coalesce(sz.size, 1), 6) AS weight
       |FROM corpus d
       |LEFT JOIN comps c ON c.id = d.doc_id
       |LEFT JOIN sz ON sz.comp = c.comp
       |ORDER BY d.doc_id""".stripMargin

  /** Combined dedup report ([[Dedup.components]] once →
    * [[Dedup.clusterSizeHistogram]] + [[Dedup.dupWeights]]): the
    * pipeline shape the per-report queries q181/q182 each pay
    * separately — ONE corpus-scale components pass (the bench's two
    * heaviest queries before this existed) feeds the histogram AND
    * the per-size weight roll-up, and the gate proves the shared
    * table answers both identically. Per size: cluster count, doc
    * count, and summed soft-dedup weight (= n_clusters by
    * construction — the oracle recomputes it from the per-doc weights
    * rather than assuming the identity). components() returns a
    * checkpointed frame, so the four downstream reads don't re-run
    * the iteration. */
  def q192_dedup_report(spark: SparkSession, dir: String): DataFrame = {
    val corpus = corpusWithDups(spark, dir)
    val comps = sharedComponents(spark, dir)
    val hist = Dedup.clusterSizeHistogram(corpus, comps)
    val bySize = Dedup.dupWeights(corpus, "doc_id", comps)
      .groupBy(col("cluster_size").as("size"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("weight")), 6).as("sum_weight"))
    hist.join(bySize, "size").orderBy("size")
  }

  val q192_sql: String =
    s"""WITH RECURSIVE corpus AS ($CorpusWithDupsSql),
       |$CollapsedClosureSql,
       |sz AS (SELECT comp, count(*) AS size FROM comps GROUP BY 1),
       |h AS (SELECT size, count(*) AS n_clusters FROM sz GROUP BY 1),
       |tot AS (SELECT count(*) AS n FROM corpus),
       |cl AS (SELECT coalesce(sum(size), 0) AS m FROM sz),
       |hist AS (
       |  SELECT size, CAST(sum(n_clusters) AS BIGINT) AS n_clusters
       |  FROM (
       |    SELECT CAST(1 AS BIGINT) AS size, n - m AS n_clusters
       |    FROM tot CROSS JOIN cl WHERE n - m > 0
       |    UNION ALL
       |    SELECT CAST(size AS BIGINT), n_clusters FROM h)
       |  GROUP BY size),
       |w AS (
       |  SELECT d.doc_id,
       |    CAST(coalesce(sz.size, 1) AS BIGINT) AS cluster_size,
       |    round(1.0 / coalesce(sz.size, 1), 6) AS weight
       |  FROM corpus d
       |  LEFT JOIN comps c ON c.id = d.doc_id
       |  LEFT JOIN sz ON sz.comp = c.comp),
       |ws AS (
       |  SELECT cluster_size AS size, count(*) AS n_docs,
       |    round(sum(weight), 6) AS sum_weight
       |  FROM w GROUP BY 1)
       |SELECT hist.size, hist.n_clusters, ws.n_docs, ws.sum_weight
       |FROM hist JOIN ws USING (size) ORDER BY hist.size""".stripMargin

  /** Mix-to-spec resampling ([[Curation.matchMixture]]): thin the
    * corpus to a stated 2:1:1:1:1 language ratio at the maximum
    * feasible size — the binding language keeps everything, the rest
    * thin via the portable hashUniform draw the oracle replays. */
  def q185_match_mixture(spark: SparkSession, dir: String): DataFrame =
    Curation.matchMixture(
        docs(spark, dir).select("doc_id", "lang"), "doc_id", "lang",
        Seq("en" -> 2L, "de" -> 1L, "es" -> 1L, "fr" -> 1L,
          "zh" -> 1L))
      .orderBy("doc_id")

  val q185_sql: String =
    """WITH p(g, pp) AS (VALUES ('en', 2), ('de', 1), ('es', 1),
      |  ('fr', 1), ('zh', 1)),
      |c AS (SELECT lang AS g, count(*) AS n FROM documents
      |      GROUP BY 1),
      |j AS (SELECT c.g, n, pp FROM c JOIN p USING (g)),
      |m AS (SELECT min(CAST(n AS DOUBLE) * 6 / pp) AS m FROM j),
      |r AS (SELECT g, least(1.0,
      |        CAST(pp AS DOUBLE) / 6 * m / n) AS rate
      |      FROM j CROSS JOIN m)
      |SELECT d.doc_id, d.lang FROM documents d
      |JOIN r ON r.g = d.lang
      |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
      |        AS BIGINT) / 4294967296.0 < r.rate
      |ORDER BY d.doc_id""".stripMargin

  def q176_split_leakage(spark: SparkSession, dir: String)
      : DataFrame = {
    val d = docs(spark, dir).select("doc_id", "text")
    val withDups = d.unionByName(d.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
    val split = Curation.assignSplits(withDups, "doc_id",
      Seq(("train", 0.9), ("val", 0.05), ("test", 0.05)),
      salt = "s12")
    Curation.splitLeakage(split, "doc_id", "text", "split")
      .orderBy("content_md5")
  }

  val q176_sql: String =
    """WITH d AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000, text FROM documents
      |  WHERE doc_id % 11 = 0),
      |s AS (
      |  SELECT doc_id, text,
      |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || 's12'),
      |      1, 8) < 'e6666666' THEN 'train'
      |         WHEN substring(md5(CAST(doc_id AS VARCHAR) || 's12'),
      |      1, 8) < 'f3333333' THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM d),
      |g AS (
      |  SELECT md5(text) AS content_md5, count(*) AS n_copies,
      |    count(DISTINCT split) AS n_splits,
      |    min(doc_id) AS min_id
      |  FROM s GROUP BY 1)
      |SELECT content_md5, CAST(n_copies AS BIGINT) AS n_copies,
      |  CAST(n_splits AS BIGINT) AS n_splits,
      |  CAST(min_id AS BIGINT) AS min_id
      |FROM g WHERE n_splits > 1 ORDER BY content_md5""".stripMargin

  /** Split repair ([[Curation.repairSplitLeakage]]): the FIX to
    * q176's finding — every exact-duplicate content group lands in
    * its min-id member's split; `moved` marks the relocated copies.
    * Same synthesized leak fixture as q176. */
  def q186_split_repair(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select("doc_id", "text")
    val withDups = d.unionByName(d.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
    val split = Curation.assignSplits(withDups, "doc_id",
      Seq(("train", 0.9), ("val", 0.05), ("test", 0.05)),
      salt = "s12")
    Curation.repairSplitLeakage(split, "doc_id", "text", "split")
      .orderBy("doc_id")
  }

  val q186_sql: String =
    """WITH d AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000, text FROM documents
      |  WHERE doc_id % 11 = 0),
      |s AS (
      |  SELECT doc_id, text,
      |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || 's12'),
      |      1, 8) < 'e6666666' THEN 'train'
      |         WHEN substring(md5(CAST(doc_id AS VARCHAR) || 's12'),
      |      1, 8) < 'f3333333' THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM d),
      |canon AS (
      |  SELECT md5(text) AS ck, arg_min(split, doc_id) AS canon
      |  FROM s WHERE text IS NOT NULL GROUP BY 1)
      |SELECT s.doc_id, s.split,
      |  coalesce(c.canon, s.split) AS split_repaired,
      |  coalesce(c.canon, s.split) <> s.split AS moved
      |FROM s LEFT JOIN canon c ON c.ck = md5(s.text)
      |ORDER BY s.doc_id""".stripMargin

  /** PII census ([[TextAnalysis.piiCensus]]): per-doc email/IP/phone
    * counts over texts with planted PII — the oracle replays the SAME
    * RE2-compatible patterns (DuckDB regexp_extract_all), so the count
    * parity IS the gate. */
  def q188_pii_census(spark: SparkSession, dir: String): DataFrame = {
    val ids = docs(spark, dir).select(col("doc_id"))
      .filter(col("doc_id") < 300)
    val synth = ids.select(col("doc_id"), concat(
      lit("contact "),
      when(col("doc_id") % 3 === 0, concat(lit("user"),
        col("doc_id"), lit("@example.com "))).otherwise(lit("")),
      when(col("doc_id") % 4 === 0,
        concat(lit("at 10.0."), (col("doc_id") % 250).cast("string"),
          lit(".7 "))).otherwise(lit("")),
      when(col("doc_id") % 5 === 0, lit("+1 555 0100 "))
        .otherwise(lit("")),
      lit("end")).as("text"))
    TextAnalysis.piiCensus(synth, "doc_id", "text")
      .orderBy("doc_id")
  }

  val q188_sql: String =
    """WITH s AS (
      |  SELECT doc_id, concat('contact ',
      |    CASE WHEN doc_id % 3 = 0 THEN concat('user',
      |      CAST(doc_id AS VARCHAR), '@example.com ') ELSE '' END,
      |    CASE WHEN doc_id % 4 = 0 THEN concat('at 10.0.',
      |      CAST(doc_id % 250 AS VARCHAR), '.7 ') ELSE '' END,
      |    CASE WHEN doc_id % 5 = 0 THEN '+1 555 0100 ' ELSE '' END,
      |    'end') AS text
      |  FROM documents WHERE doc_id < 300)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
      |    AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(text,
      |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
      |    AS BIGINT) AS n_ips,
      |  CAST(len(regexp_extract_all(text,
      |    '\+?\d{1,3}[ -]\d{3}[ -]\d{3,4}([ -]\d{1,4})?'))
      |    AS BIGINT) AS n_phones,
      |  len(regexp_extract_all(text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
      |  + len(regexp_extract_all(text,
      |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
      |  + len(regexp_extract_all(text,
      |    '\+?\d{1,3}[ -]\d{3}[ -]\d{3,4}([ -]\d{1,4})?')) > 0
      |    AS has_pii
      |FROM s ORDER BY doc_id""".stripMargin

  /** Cross-snapshot gram overlap ([[Dedup.gramOverlap]]): snapshot A
    * = the doc_id < 300 prefix, snapshot B = the full corpus — the
    * corpus-level recrawl-freshness number (frac_new = share of B's
    * distinct 5-gram md5s absent from A). */
  def q190_gram_overlap(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select("doc_id", "text")
    Dedup.gramOverlap(d.filter(col("doc_id") < 300), d, "text", n = 5)
  }

  val q190_sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    string_split_regex(trim(lower(text)), '\s+') AS w
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, len(w) - 4),
      |    i -> md5(concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3],
      |      w[i+4]))))) AS gh
      |  FROM toks),
      |ga AS (SELECT DISTINCT gh FROM g WHERE doc_id < 300),
      |gb AS (SELECT DISTINCT gh FROM g)
      |SELECT
      |  CAST((SELECT count(*) FROM ga) AS BIGINT) AS grams_a,
      |  CAST((SELECT count(*) FROM gb) AS BIGINT) AS grams_b,
      |  CAST((SELECT count(*) FROM ga JOIN gb USING (gh)) AS BIGINT)
      |    AS shared,
      |  CAST((SELECT count(*) FROM gb
      |        WHERE gh NOT IN (SELECT gh FROM ga)) AS BIGINT)
      |    AS new_in_b,
      |  CASE WHEN (SELECT count(*) FROM gb) > 0 THEN
      |    round(CAST((SELECT count(*) FROM gb
      |      WHERE gh NOT IN (SELECT gh FROM ga)) AS DOUBLE)
      |      / (SELECT count(*) FROM gb), 6) END AS frac_new""".stripMargin

  /** Tokenizer fertility per language
    * ([[TextAnalysis.tokenizerFertility]]): subword tokens per word
    * and chars per token by lang — the multilingual-budgeting table.
    * Exact longs into two divisions; the oracle replays the BPE-ish
    * regex (RE2-compatible). */
  def q191_fertility(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenizerFertility(docs(spark, dir), "lang", "text")
      .orderBy("lang")

  val q191_sql: String =
    """WITH c AS (
      |  SELECT lang,
      |    len(list_filter(string_split_regex(trim(lower(text)),
      |      '\s+'), x -> x <> '')) AS words,
      |    len(regexp_extract_all(lower(text),
      |      '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS tokens,
      |    length(text) AS chars
      |  FROM documents WHERE text IS NOT NULL)
      |SELECT lang, CAST(count(*) AS BIGINT) AS docs,
      |  CAST(sum(words) AS BIGINT) AS words,
      |  CAST(sum(tokens) AS BIGINT) AS tokens,
      |  CAST(sum(chars) AS BIGINT) AS chars,
      |  CASE WHEN sum(words) > 0 THEN
      |    round(CAST(sum(tokens) AS DOUBLE) / sum(words), 6) END
      |    AS fertility,
      |  CASE WHEN sum(tokens) > 0 THEN
      |    round(CAST(sum(chars) AS DOUBLE) / sum(tokens), 6) END
      |    AS chars_per_token
      |FROM c GROUP BY lang ORDER BY lang""".stripMargin

  // ============================================================= registry

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q20_dedup_exact" -> (q20_dedup_exact _),
    "q21_text_stats" -> (q21_text_stats _),
    "q22_quality" -> (q22_quality _),
    "q23_jaccard_probe" -> (q23_jaccard_probe _),
    "q24_minhash_lsh" -> (q24_minhash_lsh _),
    "q25_knn_brute" -> (q25_knn_brute _),
    "q26_simhash" -> (q26_simhash _),
    "q27_embed_neardup" -> (q27_embed_neardup _),
    "q28_ann_lsh" -> (q28_ann_lsh _),
    "q29_fingerprint" -> (q29_fingerprint _),
    "q42_ann_ivf" -> (q42_ann_ivf _),
    "q45_multimodal" -> (q45_multimodal _),
    "q47_embed_lsh" -> (q47_embed_lsh _),
    "q63_langid" -> (q63_langid _),
    "q66_dedup_clusters" -> (q66_dedup_clusters _),
    "q67_dedup_cleaned" -> (q67_dedup_cleaned _),
    "q72_boilerplate" -> (q72_boilerplate _),
    "q73_pii_scrub" -> (q73_pii_scrub _),
    "q74_decontam" -> (q74_decontam _),
    "q75_repetition" -> (q75_repetition _),
    "q76_chunking" -> (q76_chunking _),
    "q77_mixing" -> (q77_mixing _),
    "q87_packing" -> (q87_packing _),
    "q88_wordfreq" -> (q88_wordfreq _),
    "q89_dsir" -> (q89_dsir _),
    "q90_ann_pq" -> (q90_ann_pq _),
    "q91_shards" -> (q91_shards _),
    "q92_ann_ivfpq" -> (q92_ann_ivfpq _),
    "q93_semdedup" -> (q93_semdedup _),
    "q94_substring_dedup" -> (q94_substring_dedup _),
    "q95_perplexity" -> (q95_perplexity _),
    "q96_temp_mix" -> (q96_temp_mix _),
    "q97_cross_dedup" -> (q97_cross_dedup _),
    "q98_tfidf" -> (q98_tfidf _),
    "q99_bm25" -> (q99_bm25 _),
    "q79_curate" -> (q79_curate _),
    "q109_classifier" -> (q109_classifier _),
    "q116_ann_binary" -> (q116_ann_binary _),
    "q120_hard_negatives" -> (q120_hard_negatives _),
    "q121_containment" -> (q121_containment _),
    "q122_kcenter" -> (q122_kcenter _),
    "q124_domain_cap" -> (q124_domain_cap _),
    "q125_c4" -> (q125_c4 _),
    "q126_para_dedup" -> (q126_para_dedup _),
    "q128_pps_sample" -> (q128_pps_sample _),
    "q129_kmeans" -> (q129_kmeans _),
    "q130_url_dedup" -> (q130_url_dedup _),
    "q131_bloom_decontam" -> (q131_bloom_decontam _),
    "q132_vocab" -> (q132_vocab _),
    "q133_pmi" -> (q133_pmi _),
    "q138_gopher" -> (q138_gopher _),
    "q139_embed_stats" -> (q139_embed_stats _),
    "q140_rand_proj" -> (q140_rand_proj _),
    "q141_wav_decode" -> (q141_wav_decode _),
    "q142_bmp_decode" -> (q142_bmp_decode _),
    "q143_bucketed_curate" -> (q143_bucketed_curate _),
    "q144_png_decode" -> (q144_png_decode _),
    "q147_kappa" -> (q147_kappa _),
    "q148_snapshot_diff" -> (q148_snapshot_diff _),
    "q149_linkage" -> (q149_linkage _),
    "q150_stratified" -> (q150_stratified _),
    "q151_splits" -> (q151_splits _),
    "q152_readability" -> (q152_readability _),
    "q153_image_phash" -> (q153_image_phash _),
    "q155_apply_changeset" -> (q155_apply_changeset _),
    "q156_mixture" -> (q156_mixture _),
    "q158_token_budget" -> (q158_token_budget _),
    "q159_jpeg_decode" -> (q159_jpeg_decode _),
    "q160_bucketed_changeset" -> (q160_bucketed_changeset _),
    "q161_script_mix" -> (q161_script_mix _),
    "q162_nfc_normalize" -> (q162_nfc_normalize _),
    "q163_luhn" -> (q163_luhn _),
    "q164_vocab_overlap" -> (q164_vocab_overlap _),
    "q165_sentences" -> (q165_sentences _),
    "q166_char_entropy" -> (q166_char_entropy _),
    "q170_oov_rate" -> (q170_oov_rate _),
    "q171_embed_int8" -> (q171_embed_int8 _),
    "q172_keywords" -> (q172_keywords _),
    "q173_multibench" -> (q173_multibench _),
    "q174_length_rank" -> (q174_length_rank _),
    "q175_hapax" -> (q175_hapax _),
    "q176_split_leakage" -> (q176_split_leakage _),
    "q178_chi2_terms" -> (q178_chi2_terms _),
    "q179_gram_novelty" -> (q179_gram_novelty _),
    "q180_jsd_cells" -> (q180_jsd_cells _),
    "q181_cluster_sizes" -> (q181_cluster_sizes _),
    "q182_dup_weights" -> (q182_dup_weights _),
    "q192_dedup_report" -> (q192_dedup_report _),
    "q193_dedup_store" -> (q193_dedup_store _),
    "q194_ann_index" -> (q194_ann_index _),
    "q195_ingest_lifecycle" -> (q195_ingest_lifecycle _),
    "q196_index_append" -> (q196_index_append _),
    "q197_retract_store" -> (q197_retract_store _),
    "q198_index_retract" -> (q198_index_retract _),
    "q199_compacted_lifecycle" -> (q199_compacted_lifecycle _),
    "q200_incremental_components" -> (q200_incremental_components _),
    "q201_rebuild_store" -> (q201_rebuild_store _),
    "q202_rebuild_index" -> (q202_rebuild_index _),
    "q203_manifest_lifecycle" -> (q203_manifest_lifecycle _),
    "q204_manifest_index" -> (q204_manifest_index _),
    "q205_retract_lifecycle" -> (q205_retract_lifecycle _),
    "q185_match_mixture" -> (q185_match_mixture _),
    "q186_split_repair" -> (q186_split_repair _),
    "q188_pii_census" -> (q188_pii_census _),
    "q189_containment_content" -> (q189_containment_content _),
    "q190_gram_overlap" -> (q190_gram_overlap _),
    "q191_fertility" -> (q191_fertility _))

  val oracles: Map[String, String] = Map(
    "q20_dedup_exact" -> q20_sql,
    "q21_text_stats" -> q21_sql,
    "q22_quality" -> q22_sql,
    "q23_jaccard_probe" -> q23_sql,
    "q24_minhash_lsh" -> q24_sql,
    "q25_knn_brute" -> q25_sql,
    "q26_simhash" -> q26_sql,
    "q27_embed_neardup" -> q27_sql,
    "q28_ann_lsh" -> q28_sql,
    "q29_fingerprint" -> q29_sql,
    // exhaustive IVF == brute force: same oracle as q25
    "q42_ann_ivf" -> q25_sql,
    "q45_multimodal" -> q45_sql,
    "q47_embed_lsh" -> q47_sql,
    "q63_langid" -> q63_sql,
    "q66_dedup_clusters" -> q66_sql,
    "q67_dedup_cleaned" -> q67_sql,
    "q72_boilerplate" -> q72_sql,
    "q73_pii_scrub" -> q73_sql,
    "q74_decontam" -> q74_sql,
    "q75_repetition" -> q75_sql,
    "q76_chunking" -> q76_sql,
    "q77_mixing" -> q77_sql,
    "q87_packing" -> q87_sql,
    "q88_wordfreq" -> q88_sql,
    "q89_dsir" -> q89_sql,
    "q90_ann_pq" -> q90_sql,
    "q91_shards" -> q91_sql,
    "q92_ann_ivfpq" -> q92_sql,
    "q93_semdedup" -> q93_sql,
    "q94_substring_dedup" -> q94_sql,
    "q95_perplexity" -> q95_sql,
    "q96_temp_mix" -> q96_sql,
    "q97_cross_dedup" -> q97_sql,
    "q98_tfidf" -> q98_sql,
    "q99_bm25" -> q99_sql,
    "q79_curate" -> q79_sql,
    "q109_classifier" -> q109_sql,
    "q116_ann_binary" -> q116_sql,
    "q120_hard_negatives" -> q120_sql,
    "q121_containment" -> q121_sql,
    "q122_kcenter" -> q122_sql,
    "q124_domain_cap" -> q124_sql,
    "q125_c4" -> q125_sql,
    "q126_para_dedup" -> q126_sql,
    "q128_pps_sample" -> q128_sql,
    "q129_kmeans" -> q129_sql,
    "q130_url_dedup" -> q130_sql,
    "q131_bloom_decontam" -> q131_sql,
    "q132_vocab" -> q132_sql,
    "q133_pmi" -> q133_sql,
    "q138_gopher" -> q138_sql,
    "q139_embed_stats" -> q139_sql,
    "q140_rand_proj" -> q140_sql,
    "q141_wav_decode" -> q141_sql,
    "q142_bmp_decode" -> q142_sql,
    "q143_bucketed_curate" -> q143_sql,
    "q144_png_decode" -> q144_sql,
    "q147_kappa" -> q147_sql,
    "q148_snapshot_diff" -> q148_sql,
    "q149_linkage" -> q149_sql,
    "q150_stratified" -> q150_sql,
    "q151_splits" -> q151_sql,
    "q152_readability" -> q152_sql,
    "q153_image_phash" -> q153_sql,
    "q155_apply_changeset" -> q155_sql,
    "q156_mixture" -> q156_sql,
    "q158_token_budget" -> q158_sql,
    "q159_jpeg_decode" -> q159_sql,
    // bucketed routing must return the identical snapshot
    "q160_bucketed_changeset" -> q155_sql,
    "q161_script_mix" -> q161_sql,
    "q162_nfc_normalize" -> q162_sql,
    "q163_luhn" -> q163_sql,
    "q164_vocab_overlap" -> q164_sql,
    "q165_sentences" -> q165_sql,
    "q166_char_entropy" -> q166_sql,
    "q170_oov_rate" -> q170_sql,
    "q171_embed_int8" -> q171_sql,
    "q172_keywords" -> q172_sql,
    "q173_multibench" -> q173_sql,
    "q174_length_rank" -> q174_sql,
    "q175_hapax" -> q175_sql,
    "q176_split_leakage" -> q176_sql,
    "q178_chi2_terms" -> q178_sql,
    "q179_gram_novelty" -> q179_sql,
    "q180_jsd_cells" -> q180_sql,
    "q181_cluster_sizes" -> q181_sql,
    "q182_dup_weights" -> q182_sql,
    "q192_dedup_report" -> q192_sql,
    "q193_dedup_store" -> q97_sql,
    "q194_ann_index" -> q92_sql,
    "q195_ingest_lifecycle" -> q195_sql,
    // planted-copy determinism holds under any model, incl. the
    // batch-1-trained frozen model — same expected rows as q92
    "q196_index_append" -> q92_sql,
    "q197_retract_store" -> q197_sql,
    "q198_index_retract" -> q198_sql,
    // compacted ≡ accumulated: the on-disk compacted lifecycle must
    // answer exactly the q195 sequential-rule replay
    "q199_compacted_lifecycle" -> q195_sql,
    // incremental merge ≡ from-scratch closure over the full corpus
    "q200_incremental_components" -> q66_sql,
    // the sequential exact-Jaccard rule is parameter-free: rebuild at
    // k=32 then ingest must answer exactly the q195 replay
    "q201_rebuild_store" -> q195_sql,
    // planted-copy determinism under ANY model — the rebuilt index
    // must answer the q92 rows off its round-tripped artifacts
    "q202_rebuild_index" -> q92_sql,
    // the q199 construction under its own name
    "q203_manifest_lifecycle" -> q195_sql,
    // model + rows under one committed manifest answer the q92 rows
    "q204_manifest_index" -> q92_sql,
    // compaction + rebuild + takedown: the retracted sources'
    // planted copies survive, everything else answers the q195 rule
    "q205_retract_lifecycle" -> q205_sql,
    "q185_match_mixture" -> q185_sql,
    "q186_split_repair" -> q186_sql,
    "q188_pii_census" -> q188_sql,
    "q189_containment_content" -> q189_sql,
    "q190_gram_overlap" -> q190_sql,
    "q191_fertility" -> q191_sql)
}
