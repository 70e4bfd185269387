package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Tokens

/** Document deduplication suite for large-scale training-data pipelines:
  * exact (hash-groupBy), MinHash+LSH, SimHash, n-gram Jaccard, and
  * embedding-cosine near-dup. Everything is built from codegen'd built-in
  * functions (no UDFs); pair generation goes through bucket-join patterns
  * (explode → shuffle on bucket key → self-join) that scale horizontally —
  * never an O(n²) cross join on the full corpus.
  */
object Dedup {

  /** Whitespace tokens of normalized text. */
  def tokens(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** LSH band hash over signature slots b·rows+1 … b·rows+rows:
    * xxhash64 of the raw long values. The previous form stringified
    * every slot and concat_ws'd them per row per band — a JFR profile
    * showed the Long→String materialization as real per-row cost
    * (guide §1.2 step 2: per-task work on the hot path). Any
    * deterministic function of the slice is a correct band hash: band
    * hashes are only compared to band hashes from this same function
    * (equal slices always collide; unequal slices collide with ~2⁻⁶⁴
    * probability, and every candidate pair is exact-Jaccard verified
    * downstream either way). */
  private def bandHashLongs(sig: Column, b: Int, rows: Int): Column =
    xxhash64((1 to rows).map(r => element_at(sig, b * rows + r)): _*)

  /** Target parallelism for pair-generation stages: size-adaptive
    * ([[Sizing.parallelism]] — the testdata parquet often arrives as ONE
    * input split, so an explicit repartition is still needed for any
    * parallelism at all; its WIDTH derives from the input size instead
    * of pinning every downstream stage to the session constant), at the
    * 32 KB [[PairKernelFloorBytes]]. */
  private def defaultParallelism(df: DataFrame): Int =
    Sizing.parallelism(df, PairKernelFloorBytes)

  /** Floor for the pair-generation kernels, between the 8 KB
    * [[Sizing.CpuDenseFloorBytes]] and the retired 128 KB floor: the
    * shingle/minhash kernels burn far more CPU per input byte than the
    * downstream hash stages, and 128 KB starved them (q126's paragraph
    * frame landed on ~5 partitions while the machine idled — the r18
    * verdict's touched regressions), while the 8 KB CPU-dense floor
    * triples the gates' total task time at 32 cores (measured: q195
    * tasks 438 → 1312, task time 13.6 s → 49 s) because the
    * signature-store paths do only one cheap kernel pass per row.
    * 32 KB measured best on both families. */
  private val PairKernelFloorBytes: Long = 32L * 1024

  /** Pair pipelines carry ids as primitive 64-bit longs (the imperative
    * kernels and the narrow (id,id) pair shuffles ship 8 bytes per side).
    * Integral id columns pass through unchanged; any other type (string /
    * UUID / decimal / ...) is mapped to a deterministic xxhash64 surrogate
    * here, and [[restoreIds]] joins the original ids back onto the output
    * (collision odds ~n²·2⁻⁶⁴; pair ordering `id_a < id_b` is then over
    * surrogates — consistent but arbitrary). */
  private[pipeline] def longIds(df: DataFrame, idCol: String)
      : (DataFrame, Option[DataFrame]) = {
    import org.apache.spark.sql.types._
    df.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => (df, None)
      case _ =>
        val surr = xxhash64(col(idCol).cast("string"))
        val mapping = df.select(col(idCol).as("__orig"), surr.as("__surr"))
          .distinct()
        (df.withColumn(idCol, surr), Some(mapping))
    }
  }

  /** Join original ids back onto a pair output for each surrogate id column
    * (no-op when [[longIds]] passed the ids through). */
  private[pipeline] def restoreIds(out: DataFrame,
      mapping: Option[DataFrame], idCols: Seq[String]): DataFrame =
    mapping.fold(out) { m =>
      idCols.foldLeft(out) { (d, c) =>
        d.join(m.withColumnRenamed("__surr", c), Seq(c))
          .withColumn(c, col("__orig")).drop("__orig")
      }
    }

  /** n-gram shingles (token n-grams joined with spaces), distinct.
    * NOTE for hot paths: `toks` is inlined into every lambda element here
    * (higher-order-function lambdas run interpreted and replicate the
    * tokenizer n+1×) — the scale pipelines use the `shingleMinhash`
    * imperative kernel instead. */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = tokens(text)
    val cnt = size(toks) - (n - 1)
    // guard: sequence(1, cnt) DESCENDS for cnt < 1 (Spark picks step −1),
    // mis-indexing texts shorter than n tokens — emit no shingles instead
    array_distinct(
      when(cnt < 1, array().cast("array<string>")).otherwise(
        transform(sequence(lit(1), greatest(cnt, lit(1))),
          i => concat_ws(" ", (0 until n).map(j =>
            element_at(toks, (i + j).cast("int"))): _*))))
  }

  // ---------------------------------------------------- imperative kernel

  /** XXH64 of a string's UTF-8 bytes (the same family the xxhash64
    * expression uses; exact value parity is irrelevant — hashes are only
    * compared to each other). */
  private def hashToken(t: String, seed: Long): Long = {
    val b = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, seed)
  }

  /** Per-partition imperative tokenize → token-hash → n-gram-hash →
    * minhash-signature kernel. The Column/higher-order-function version of
    * this pipeline evaluates every lambda interpreted and re-inlines the
    * argument expression into each element (tokenizer × shingles ×
    * signatures), which measured ~10× slower end-to-end than this
    * mapPartitions on the documents corpus — the one place the engine
    * drops below the DataFrame API (SURVEY §7.2's "last resort" clause,
    * justified by measurement). Output: (id, sh, sig); rows with no
    * shingles are dropped. Requires a numeric (long-castable) id. */
  private[pipeline] def shingleMinhash(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val parts = defaultParallelism(df)
    df.select(col(idCol).cast("long").as("id"),
      col(textCol).cast("string").as("text"))
      .repartition(parts)
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val toks = Tokens.lowered(text)
          val L = toks.length - (shingleN - 1)
          if (L <= 0) Iterator.empty
          else {
            val th = new Array[Long](toks.length)
            var i = 0
            while (i < toks.length) { th(i) = hashToken(toks(i), 42L); i += 1 }
            val seen = new java.util.HashSet[java.lang.Long](L * 2)
            val shB = Array.newBuilder[Long]
            i = 0
            while (i < L) {
              var h = 42L
              var j = 0
              while (j < shingleN) {
                h = org.apache.spark.sql.catalyst.expressions.XXH64
                  .hashLong(th(i + j), h)
                j += 1
              }
              if (seen.add(h)) shB += h
              i += 1
            }
            val sh = shB.result()
            val sig = new Array[Long](k)
            var f = 0
            while (f < k) {
              var m = Long.MaxValue
              var s = 0
              while (s < sh.length) {
                val hv = org.apache.spark.sql.catalyst.expressions.XXH64
                  .hashLong(sh(s), f.toLong)
                if (hv < m) m = hv
                s += 1
              }
              sig(f) = m
              f += 1
            }
            Iterator.single((id, sh, sig))
          }
        }
      }
      .toDF("id", "sh", "sig")
  }

  /** Exact dedup: normalized-text hash, keep the smallest id per group.
    * Single hash-shuffle; at 100 TB this is the cheapest first pass. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(lower(col(textCol))).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** MinHash signature: k permutation-free min-hashes
    * h_i(S) = min over shingles s of xxhash64(s, i). */
  def minhashSignature(shinglesCol: Column, k: Int = 16): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(shinglesCol,
        s => xxhash64(s, i))))

  /** Same over pre-hashed (long) shingles — re-mixing the hash with the
    * function index keeps the k functions independent. */
  def minhashSignatureFromHashes(hashesCol: Column, k: Int = 16): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(hashesCol,
        h => xxhash64(h, i))))

  /** MinHash + LSH banding: signature split into `bands` bands; docs
    * sharing any band hash become candidate pairs; candidates verified with
    * exact shingle Jaccard. Returns (id_a, id_b, est_jaccard, jaccard).
    *
    * Scale path: explode to (band_idx, band_hash) — one shuffle on the band
    * key; bucket sizes are data-dependent but near-dup clusters are small by
    * construction. */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 4, shingleN: Int = 3,
      minJaccard: Double = 0.5): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val rows = k / bands
    val (dfL, idMap) = longIds(df, idCol)
    // One imperative pass computes token hashes → distinct n-gram hashes →
    // k-minhash signature per row (see shingleMinhash for why this beats
    // the higher-order-function pipeline ~10×). Shingles are 64-bit
    // hashes: Jaccard over long arrays is identical modulo hash collisions
    // (~n²/2⁶⁴) and the pair scan compares 8-byte values instead of
    // strings.
    // The signature frame feeds FIVE branches of this DAG (band explode,
    // sig re-attach ×2, shingle re-attach ×2). Unpersisted, every branch
    // would recompute the full scan + shingle + minhash lineage — ~24
    // source scans in the physical plan, the single worst pattern at
    // 100 TB where the text scan dominates. Persisting the compact
    // (id, sig, sh) projection makes it one scan + one signature pass;
    // MEMORY_AND_DISK spills gracefully when signatures outgrow executor
    // memory. Lifetime: released on session end / spark.catalog
    // .clearCache() — idiomatic for multi-branch library pipelines.
    val withSig = shingleMinhash(dfL, idCol, textCol, shingleN, k)
      .select(col("id"), col("sig"), col("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val withSh = withSig.select(col("id"), col("sh"))
    def bandHash(sig: Column, b: Int): Column =
      bandHashLongs(sig, b, rows)
    // the band join carries only (id, size): shipping signature (or
    // shingle) arrays through the explode shuffle and materializing them
    // on every band-collision pair dominates the whole pipeline on
    // small-vocabulary corpora; arrays are re-attached per-id AFTER pair
    // dedupe instead
    val banded = withSig.select(col("id"), size(col("sh")).as("sz"),
      posexplode(array((0 until bands).map(b =>
        bandHash(col("sig"), b)): _*))
        .as(Seq("band_idx", "band_hash")))
    val a = banded.select(col("band_idx"), col("band_hash"),
      col("id").as("id_a"), col("sz").as("sz_a"))
    val b = banded.select(col("band_idx"), col("band_hash"),
      col("id").as("id_b"), col("sz").as("sz_b"))
    val pairs = a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      // EXACT prune: J ≤ min(|a|,|b|)/max(|a|,|b|) — a scalar compare
      // that can never drop a qualifying pair
      .filter(least(col("sz_a"), col("sz_b")).cast("double") /
        greatest(col("sz_a"), col("sz_b")) >= minJaccard)
      // multi-band matches collapse via a narrow (id, id) shuffle — 16
      // bytes per candidate beats dragging signatures through the join
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    val sigById = withSig.select(col("id"), col("sig"))
    val cand = pairs
      .join(sigById.select(col("id").as("id_a"), col("sig").as("sig_a")),
        Seq("id_a"))
      .join(sigById.select(col("id").as("id_b"), col("sig").as("sig_b")),
        Seq("id_b"))
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1.0).otherwise(0.0)),
          lit(0.0), (acc, v) => acc + v) / k)
      // cheap signature-agreement prefilter before the exact set math:
      // a true pair at j=minJaccard clears est ≥ minJaccard/2 with
      // probability ≥ 99.5% at k=16, and random band-collision junk
      // (the bulk of candidates on small-vocabulary corpora) dies here
      .filter(col("est_jaccard") >= minJaccard / 2)
      .select("id_a", "id_b", "est_jaccard")
    // re-attach shingle arrays for the (small) candidate set and verify
    val shById = withSh.select(col("id"), col("sh"))
    val verified = cand
      .join(shById.select(col("id").as("id_a"), col("sh").as("sh_a")),
        Seq("id_a"))
      .join(shById.select(col("id").as("id_b"), col("sh").as("sh_b")),
        Seq("id_b"))
      .withColumn("jaccard", exactJaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "est_jaccard", "jaccard")
    restoreIds(verified, idMap, Seq("id_a", "id_b"))
  }

  /** First-seen n-gram novelty by crawl order — "how much of this
    * document's content is NEW relative to everything with a smaller
    * id?" The per-doc novelty read behind incremental-crawl triage:
    * a recrawl of boilerplate answers ~0, genuinely fresh content ~1,
    * and the corpus-level novelty CURVE (novelty vs id) is the
    * diminishing-returns plot crawl budgeting reads.
    *
    * Gram identity = md5 of the space-joined lowercased word n-gram
    * (the q94 portability rule — an independent engine replays it).
    * First occurrence = min(id) over the whole corpus. Output one row
    * per input doc: (id, n_grams, n_novel, novelty 6dp); docs shorter
    * than n words answer n_grams = 0 with null novelty.
    *
    * Scale shape: distinct (doc, gram-hash) postings collapse into a
    * (gram)-keyed min-id hash aggregate (map-side combined), then ONE
    * hash join postings ⋈ first-seen on the gram hash — shuffle
    * O(postings), no window, no all-pairs term; the text column never
    * crosses the wire. */
  def gramNovelty(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5): DataFrame = {
    require(n >= 1, "gram size must be >= 1")
    // tokenize ONCE per row into a materialized column: inlining the
    // filter(split(...)) into the transform lambda re-ran the tokenizer
    // per gram element (HOF lambdas see no CSE) — O(tokens²) per doc
    val toks = col("__toks")
    // sequence(1, size-n+1) DESCENDS when size < n — guard explicitly
    val grams = when(size(toks) >= n, array_distinct(
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => md5(concat_ws(" ", slice(toks, i, lit(n)))))))
      .otherwise(array().cast("array<string>"))
    val postings = df
      .withColumn("__toks",
        filter(split(trim(lower(col(textCol))), "\\s+"), t => t =!= ""))
      .select(col(idCol), explode(grams).as("__gh"))
    val first = postings.groupBy(col("__gh"))
      .agg(min(col(idCol)).as("__first"))
    val perDoc = postings.join(first, "__gh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col(idCol) === col("__first"), 1L).otherwise(0L))
          .as("n_novel"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(col("n_grams") > 0,
          round(col("n_novel").cast("double") / col("n_grams"), 6))
          .as("novelty"))
  }

  /** Corpus-level gram overlap between two snapshots — the
    * macro twin of [[gramNovelty]] (per-doc, one corpus): what
    * fraction of snapshot B's distinct n-grams did snapshot A already
    * contain? The recrawl-freshness number a crawl review reads first:
    * frac_new ~0 means B re-fetched A, ~1 means disjoint coverage.
    * Returns ONE row: grams_a, grams_b, shared, new_in_b, frac_new
    * (6dp). Gram identity = md5 of the space-joined lowercased word
    * n-gram (the [[gramNovelty]] spelling).
    *
    * Scale shape: each side collapses to its DISTINCT gram-hash set
    * map-side (one hash aggregate per side over (gram) keys); the
    * comparison is a full-outer-style count over the union frame —
    * shuffle O(distinct grams), text never crosses the wire, no
    * pair term. */
  def gramOverlap(dfA: DataFrame, dfB: DataFrame, textCol: String,
      n: Int = 5): DataFrame = {
    require(n >= 1, "gram size must be >= 1")
    def gramSet(df: DataFrame, side: String): DataFrame = {
      // tokenize once per row (the gramNovelty note): the inlined form
      // re-ran the tokenizer per gram element
      val toks = col("__toks")
      val gs = when(size(toks) >= n, array_distinct(
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => md5(concat_ws(" ", slice(toks, i, lit(n)))))))
        .otherwise(array().cast("array<string>"))
      df.withColumn("__toks",
          filter(split(trim(lower(col(textCol))), "\\s+"), t => t =!= ""))
        .select(explode(gs).as("__gh")).distinct()
        .withColumn(side, lit(1))
    }
    gramSet(dfA, "__a").join(gramSet(dfB, "__b"), Seq("__gh"),
        "full_outer")
      .agg(
        sum(coalesce(col("__a"), lit(0))).cast("long").as("grams_a"),
        sum(coalesce(col("__b"), lit(0))).cast("long").as("grams_b"),
        sum(when(col("__a").isNotNull && col("__b").isNotNull, 1L)
          .otherwise(0L)).as("shared"),
        sum(when(col("__a").isNull && col("__b").isNotNull, 1L)
          .otherwise(0L)).as("new_in_b"))
      .select(col("grams_a"), col("grams_b"), col("shared"),
        col("new_in_b"),
        when(col("grams_b") > 0, round(
          col("new_in_b").cast("double") / col("grams_b"), 6))
          .as("frac_new"))
  }

  /** Scale-correct near-dup CLUSTER edges: the edge set
    * [[connectedComponents]] needs, WITHOUT the quadratic term exact
    * duplicate cliques put into [[minhashLsh]]'s all-pairs band join.
    *
    * A real crawl carries hot exact-duplicate cliques (boilerplate
    * pages copied millions of times); inside one LSH bucket a clique of
    * c identical docs makes c²/2 candidate pairs — measured at the 100×
    * probe as a 603× shuffle for 10× data (SCALE.md). For CLUSTERING
    * the clique's pairs are redundant: connectivity only needs a star.
    * So: (1) collapse exact contents (md5 of the raw text) to their
    * min-id representative and emit (rep, member) star edges — Jaccard
    * 1 by construction; (2) run the full MinHash-LSH pair pipeline on
    * the DISTINCT contents only; (3) union. Components are provably
    * identical to all-pairs over the raw corpus: Jaccard is a function
    * of content alone, so any cross-clique edge (x, y) implies the
    * (rep(x), rep(y)) edge this construction keeps, and cliques stay
    * connected through their star.
    *
    * [[minhashLsh]] itself keeps all-pairs semantics — a pair LISTING
    * is inherently quadratic inside a clique; use it when the pairs
    * themselves are the product (q24), this when feeding components. */
  def clusterEdges(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 4, shingleN: Int = 3,
      minJaccard: Double = 0.5): DataFrame = {
    val keyed = df.select(col(idCol), md5(col(textCol)).as("__ck"))
    val reps = keyed.groupBy("__ck").agg(min(col(idCol)).as("__rep"))
    val star = keyed.join(reps, "__ck")
      .filter(col(idCol) =!= col("__rep"))
      .select(col("__rep").as("id_a"), col(idCol).as("id_b"))
    val repDocs = df.join(
      reps.select(col("__rep").as(idCol)), Seq(idCol), "left_semi")
    minhashLsh(repDocs, idCol, textCol, k, bands, shingleN, minJaccard)
      .select("id_a", "id_b")
      .unionByName(star)
  }

  /** Duplicate-cluster size histogram — the one-page dedup report a
    * curation run ends with: how many clusters of each size the corpus
    * holds (size 1 = unique docs), from which duplicate rate
    * (1 − clusters/docs) and the clique tail (the boilerplate risk
    * [[clusterEdges]] exists to survive) both read off directly.
    *
    * Output: (size, n_clusters), size ascending, singletons included
    * as size 1. All exact longs end to end.
    *
    * Scale shape: [[clusterEdges]] + [[connectedComponents]] do the
    * corpus-scale work; the histogram itself is two aggregations over
    * the component table (≤ one row per paired doc) and a one-row
    * total crossJoin for the singleton count. */
  def clusterSizeHistogram(df: DataFrame, idCol: String,
      textCol: String, k: Int = 16, bands: Int = 4, shingleN: Int = 3,
      minJaccard: Double = 0.5): DataFrame =
    clusterSizeHistogram(df,
      components(df, idCol, textCol, k, bands, shingleN, minJaccard))

  /** The near-dup component table — ONE
    * [[clusterEdges]]+[[connectedComponents]] pass a curation run
    * computes once and feeds to every dedup report
    * ([[clusterSizeHistogram]], [[dupWeights]], …). The report
    * overloads taking `comps` exist exactly so the corpus-scale work
    * isn't repeated per report. Output: (id, comp). */
  def components(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 4, shingleN: Int = 3,
      minJaccard: Double = 0.5): DataFrame =
    connectedComponents(
      clusterEdges(df, idCol, textCol, k, bands, shingleN, minJaccard))

  /** Incrementally maintain the near-dup component table as a batch
    * joins the corpus — the dedup-report branch of the continuous-
    * ingest lifecycle: merge the PREVIOUS (id, comp) table with the
    * arriving batch's edges, never re-running pair generation over
    * the historical corpus (the expensive stage — LSH banding over
    * all kept text). The result is ROW-IDENTICAL to [[components]]
    * over the full corpus (the q200 gate replays the from-scratch
    * closure):
    *
    *  - within-batch edges: [[clusterEdges]] on the batch alone
    *    (content-collapsed, non-quadratic);
    *  - cross edges: [[crossCorpusPairsFromStore]] of the batch's
    *    content REPS against the persisted [[signatureStore]] — the
    *    kept text is never re-scanned; batch clones re-attach through
    *    the batch's own content star;
    *  - history: `prevComps` replayed as its star edges (comp — id).
    *    Min-id labels make the star exactly the old connectivity, and
    *    a star has diameter 2, so the merged label propagation
    *    converges in a handful of rounds regardless of how many
    *    batches of history the table carries.
    *
    * Closure equality holds because LSH candidacy is a function of
    * CONTENT (same signatures → same bands → same candidate set on
    * either path) and verification is exact Jaccard on both paths;
    * labels agree because both sides take component min-ids. Cost per
    * batch: batch-sized hashing + one band join against the store +
    * CC over (new edges + one star row per previously-clustered doc) —
    * at 100 TB the star rides as the compact (id, comp) table, a few
    * percent of corpus rows. */
  def incrementalComponents(prevComps: DataFrame, store: DataFrame,
      batch: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 8, shingleN: Int = 3,
      minJaccard: Double = 0.7,
      checkWidths: Boolean = true): DataFrame = {
    val within = clusterEdges(batch, idCol, textCol, k, bands,
      shingleN, minJaccard).select("id_a", "id_b")
    // content-collapse the batch side before the band join (the
    // dedupAgainstStore discipline); clones re-attach via the batch
    // star inside clusterEdges' output
    val keyed = batch.select(col(idCol), md5(col(textCol)).as("__ck"))
    val reps = keyed.groupBy("__ck").agg(min(col(idCol)).as("__rep"))
    val repDocs = batch.join(
      reps.select(col("__rep").as(idCol)), Seq(idCol), "left_semi")
    val cross = crossCorpusPairsFromStore(repDocs, idCol, textCol,
      store, k, bands, shingleN, minJaccard, checkWidths)
      .select(col("new_id").as("id_a"), col("kept_id").as("id_b"))
    val prevStar = prevComps.filter(col("id") =!= col("comp"))
      .select(col("comp").as("id_a"), col("id").as("id_b"))
    connectedComponents(within.unionByName(cross).unionByName(prevStar))
  }

  /** [[clusterSizeHistogram]] over a PRECOMPUTED component table
    * (from [[components]]) — the pipeline shape: components once,
    * reports many. Only the singleton count touches `df` (one count
    * aggregate). */
  def clusterSizeHistogram(df: DataFrame,
      comps: DataFrame): DataFrame = {
    val sizes = comps.groupBy(col("comp"))
      .agg(count(lit(1)).as("size"))
    val hist = sizes.groupBy(col("size"))
      .agg(count(lit(1)).as("n_clusters"))
    val total = df.agg(count(lit(1)).as("__n"))
    val clustered = sizes.agg(
      coalesce(sum(col("size")), lit(0L)).as("__m"))
    val singletons = total.crossJoin(clustered)
      .select(lit(1L).as("size"),
        (col("__n") - col("__m")).as("n_clusters"))
      .filter(col("n_clusters") > 0)
    hist.unionByName(singletons)
      .groupBy(col("size"))
      .agg(sum(col("n_clusters")).as("n_clusters"))
      .orderBy(col("size"))
  }

  /** Soft dedup: per-doc loss re-weighting instead of dropping —
    * weight = 1 / near-dup-cluster size, so a 99-copy boilerplate page
    * contributes one page of gradient in aggregate while unique docs
    * keep weight 1 (the down-weighting alternative to hard removal
    * when duplicates carry distribution signal worth keeping).
    *
    * Output: one row per input doc — (id, cluster_size, weight 6dp);
    * singletons answer (1, 1.0). Same component construction as
    * [[clusterSizeHistogram]] ([[clusterEdges]], linear in clique
    * size); the weight attach is one join of the component table
    * (≤ one row per paired doc) back to the id column. */
  def dupWeights(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 4, shingleN: Int = 3,
      minJaccard: Double = 0.5): DataFrame =
    dupWeights(df, idCol,
      components(df, idCol, textCol, k, bands, shingleN, minJaccard))

  /** [[dupWeights]] over a PRECOMPUTED component table (from
    * [[components]]) — one corpus-scale components pass can feed this
    * AND [[clusterSizeHistogram]] instead of each recomputing it. */
  def dupWeights(df: DataFrame, idCol: String,
      comps: DataFrame): DataFrame = {
    val sizes = comps.groupBy(col("comp"))
      .agg(count(lit(1)).as("__sz"))
    val withSize = comps.join(sizes, "comp")
      .select(col("id").as(idCol), col("__sz"))
    df.select(col(idCol)).join(withSize, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__sz"), lit(1L)).as("cluster_size"),
        round(lit(1.0) / coalesce(col("__sz"), lit(1L)), 6)
          .as("weight"))
  }

  /** Cross-corpus (incremental) near-dedup: candidate pairs between a NEW
    * batch and an already-KEPT corpus via the same MinHash+LSH banding as
    * [[minhashLsh]], verified with exact shingle Jaccard. Returns
    * (new_id, kept_id, est_jaccard, jaccard) — one row per verified cross
    * pair; a new doc with no row is genuinely novel ([[dedupAgainst]]
    * keeps exactly those).
    *
    * This is the ingestion-time dedup shape: the kept side is the
    * accumulated corpus, the new side a small incremental batch. At scale
    * the kept side's compact (id, sig, sh) projection is what a pipeline
    * stores between batches (recomputed from text here so the op is
    * self-contained), and its band explode is the frame one would
    * band-partition on disk so each batch joins against it without a
    * kept-side reshuffle. Both band explodes ship only (id, size);
    * signatures and shingles re-attach per-id AFTER the narrow pair
    * dedupe, exactly like [[minhashLsh]] — the 100-TB kept text never
    * enters the join. */
  def crossCorpusPairs(newDf: DataFrame, keptDf: DataFrame,
      idCol: String, textCol: String, k: Int = 16, bands: Int = 8,
      shingleN: Int = 3, minJaccard: Double = 0.7): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    import org.apache.spark.storage.StorageLevel
    val rows = k / bands
    val (newL, newMap) = longIds(newDf, idCol)
    val (keptL, keptMap) = longIds(keptDf, idCol)
    // both signature frames feed three branches each (band explode, sig
    // re-attach, shingle re-attach) — persist the compact projections
    val newSig = shingleMinhash(newL, idCol, textCol, shingleN, k)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val keptSig = shingleMinhash(keptL, idCol, textCol, shingleN, k)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val verified = crossPairsFromSigs(newSig, keptSig, k, bands,
      minJaccard, broadcastBatch = false)
    restoreIds(restoreIds(verified, newMap, Seq("new_id")),
      keptMap, Seq("kept_id"))
  }

  /** The NEW×KEPT band-join core shared by [[crossCorpusPairs]] and
    * [[crossCorpusPairsFromStore]]: both sides are (id, sh, sig)
    * signature frames; returns (new_id, kept_id, est_jaccard,
    * jaccard). Pure extraction — the frames' ids pass through
    * untouched.
    *
    * `broadcastBatch` is the micro-batch fast path, chosen by
    * [[crossCorpusPairsFromStore]] from the batch's own size: when the
    * NEW side is batch-sized (the continuous-ingest loop), its banded
    * rows — carrying their signatures — broadcast, and the kept side flows
    * through ONE fused map-side stage: scan → band-explode → broadcast
    * band join → size prune → est_jaccard → candidate projection. The
    * store is scanned ONCE per batch, never exchanged, and never
    * re-read for the attach joins (its sig/sh payload rides the same
    * stage). Without the hint the planner sort-merge-joins: the
    * store's banded rows shuffle EVERY batch — O(store) per batch, the
    * term that dominates a 100-TB ingest loop (AQE's runtime broadcast
    * conversion can't recover the store's shuffle WRITE, which lands
    * before sizes are known). The narrow path's three store touches
    * (band + two re-attaches) exist precisely because SHUFFLING wide
    * arrays is the expensive move; a broadcast batch flips that — the
    * wide columns stream through the scan stage without ever being
    * exchanged, and only candidate-sized rows shuffle (the pair
    * dedupe). Broadcast bytes: bands × (~32 B + 8k B sig) per doc,
    * bounded by [[Sizing.broadcastableBatch]]'s byte cap. Semantics
    * identical — both paths compute the same est/jaccard expressions
    * on the same deduped pair set. */
  private def crossPairsFromSigs(newSig: DataFrame, keptSig: DataFrame,
      k: Int, bands: Int, minJaccard: Double,
      broadcastBatch: Boolean): DataFrame = {
    val rows = k / bands
    def bandHash(sig: Column, b: Int): Column =
      bandHashLongs(sig, b, rows)
    // a store that carries the precomputed `sz` column ([[signatureStore]]
    // writes it) lets the band stage prune `sh` — the widest store
    // column, read here only for its size otherwise — from the scan
    def szOf(s: DataFrame): Column =
      if (s.columns.contains("sz")) col("sz") else size(col("sh"))
    def banded(s: DataFrame): DataFrame =
      s.select(col("id"), szOf(s).as("sz"),
        posexplode(array((0 until bands).map(b =>
          bandHash(col("sig"), b)): _*))
          .as(Seq("band_idx", "band_hash")))
    val estExpr =
      aggregate(zip_with(col("sig_a"), col("sig_b"),
        (x, y) => when(x === y, 1.0).otherwise(0.0)),
        lit(0.0), (acc, v) => acc + v) / k
    val sizePrune =
      least(col("sz_a"), col("sz_b")).cast("double") /
        greatest(col("sz_a"), col("sz_b")) >= minJaccard
    if (broadcastBatch) {
      // single-scan path: batch band rows carry their signature
      val a = newSig.select(col("id").as("new_id"),
          szOf(newSig).as("sz_a"), col("sig").as("sig_a"),
          posexplode(array((0 until bands).map(b =>
            bandHash(col("sig"), b)): _*))
            .as(Seq("band_idx", "band_hash")))
      val b = keptSig.select(col("id").as("kept_id"),
        szOf(keptSig).as("sz_b"), col("sig").as("sig_b"),
        col("sh").as("sh_b"),
        posexplode(array((0 until bands).map(bd =>
          bandHash(col("sig"), bd)): _*))
          .as(Seq("band_idx", "band_hash")))
      val cand = broadcast(a).join(b, Seq("band_idx", "band_hash"))
        .filter(sizePrune)
        .withColumn("est_jaccard", estExpr)
        .filter(col("est_jaccard") >= minJaccard / 2)
        // multi-band duplicates carry identical est/sh_b (both are
        // content functions) — candidate-sized shuffle
        .dropDuplicates("new_id", "kept_id")
      cand
        .join(newSig.select(col("id").as("new_id"), col("sh").as("sh_a")),
          Seq("new_id"))
        .withColumn("jaccard", exactJaccard(col("sh_a"), col("sh_b")))
        .filter(col("jaccard") >= minJaccard)
        .select("new_id", "kept_id", "est_jaccard", "jaccard")
    } else {
      val a = banded(newSig).select(col("band_idx"), col("band_hash"),
        col("id").as("new_id"), col("sz").as("sz_a"))
      val b = banded(keptSig).select(col("band_idx"), col("band_hash"),
        col("id").as("kept_id"), col("sz").as("sz_b"))
      val pairs = a.join(b, Seq("band_idx", "band_hash"))
        // EXACT size prune (can never drop a qualifying pair), then the
        // narrow (new_id, kept_id) dedupe collapses multi-band matches
        .filter(sizePrune)
        .select("new_id", "kept_id")
        .dropDuplicates("new_id", "kept_id")
      val cand = pairs
        .join(newSig.select(col("id").as("new_id"), col("sig").as("sig_a")),
          Seq("new_id"))
        .join(keptSig.select(col("id").as("kept_id"), col("sig").as("sig_b")),
          Seq("kept_id"))
        .withColumn("est_jaccard", estExpr)
        .filter(col("est_jaccard") >= minJaccard / 2)
        .select("new_id", "kept_id", "est_jaccard")
      cand
        .join(newSig.select(col("id").as("new_id"), col("sh").as("sh_a")),
          Seq("new_id"))
        .join(keptSig.select(col("id").as("kept_id"), col("sh").as("sh_b")),
          Seq("kept_id"))
        .withColumn("jaccard", exactJaccard(col("sh_a"), col("sh_b")))
        .filter(col("jaccard") >= minJaccard)
        .select("new_id", "kept_id", "est_jaccard", "jaccard")
    }
  }

  /** The between-batches signature STORE — the compact (id, sh, sig)
    * projection [[crossCorpusPairs]] recomputes from text on every
    * call, as a first-class frame a pipeline PERSISTS between ingest
    * batches: `sh` = the doc's distinct 64-bit shingle hashes, `sig` =
    * its k min-hashes. At 100 TB the store is a few percent of the
    * corpus bytes and is the ONLY kept-side input the incremental path
    * reads — [[crossCorpusPairsFromStore]] matches each new batch
    * against it without the kept TEXT ever being scanned again; append
    * each accepted batch's own store rows to keep it current (write
    * parquet bucketed by id or band hash). String ids ride the usual
    * surrogate and come back original. */
  def signatureStore(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, shingleN: Int = 3): DataFrame = {
    val (dfL, idMap) = longIds(df, idCol)
    restoreIds(shingleMinhash(dfL, idCol, textCol, shingleN, k)
      .withColumnRenamed("id", idCol), idMap, Seq(idCol))
      // precomputed shingle count: the band stage needs only the SIZE
      // of `sh`, and carrying it as its own column lets that scan
      // prune the widest store column entirely (readers fall back to
      // size(sh) on stores written before this column existed)
      .withColumn("sz", size(col("sh")))
  }

  /** [[crossCorpusPairs]] with the kept side read from a persisted
    * [[signatureStore]] frame instead of kept text — the
    * ingestion-time shape. The store must have been built with the
    * SAME k and shingleN the batch is hashed with: sig length is
    * checked loudly against k (a mismatched store would silently
    * mis-scale est_jaccard and band on different slices); shingleN has
    * no in-band witness, so it rides the caller's contract.
    *
    * The band join picks its own path from the batch it is given: a
    * batch under [[Sizing.broadcastableBatch]]'s byte cap broadcasts,
    * anything larger (or of unknown size) sort-merge joins. Persist
    * and materialize a streamed batch first so the gate reads its
    * measured size rather than an estimate. */
  def crossCorpusPairsFromStore(newDf: DataFrame, idCol: String,
      textCol: String, store: DataFrame, k: Int = 16, bands: Int = 8,
      shingleN: Int = 3, minJaccard: Double = 0.7,
      checkWidths: Boolean = true): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    require(Set(idCol, "sig", "sh").subsetOf(store.columns.toSet),
      s"signature store must carry ($idCol, sig, sh); " +
        s"has ${store.columns.mkString(", ")}")
    val hasSz = store.columns.contains("sz")
    // one column-pruned pass with map-side partial agg (bounded
    // one-row result) — a FIRST-ROW check missed mixed-width stores,
    // e.g. two stores built at different k appended together, which
    // would silently band on different slices and mis-scale
    // est_jaccard for the mismatched rows. An EMPTY store yields a
    // null agg row and is legitimate (day-zero bootstrap: nothing to
    // match, every batch doc survives). Callers on a hot per-batch
    // loop who already validated the store once pass
    // checkWidths = false to skip this store-wide pass. The same pass
    // guards the `sz` column when present: a store mixing pre-`sz`
    // partitions with new appends reads null sizes for the old rows —
    // least/greatest skip nulls, so pairs still verify correctly, but
    // the size prune silently stops pruning those rows and the
    // store's schema is ambiguous under parquet footer sampling (the
    // column can appear or vanish between reads). Fail loudly and
    // point at [[Manifest.rebuild]] instead.
    if (checkWidths) {
      val aggs = Seq(min(size(col("sig"))), max(size(col("sig")))) ++
        (if (hasSz)
          Seq(sum(when(col("sz").isNull, 1L).otherwise(0L))) else Nil)
      store.agg(aggs.head, aggs.tail: _*)
        .head(1).foreach { r =>
          if (!r.isNullAt(0)) {
            require(r.getInt(0) == k && r.getInt(1) == k,
              s"store sig lengths [${r.getInt(0)}, ${r.getInt(1)}] " +
                s"!= k = $k — rebuild the store (a mixed-width " +
                "store means two stores built at different k were " +
                "appended together)")
            if (hasSz)
              require(r.getLong(2) == 0L,
                s"store has ${r.getLong(2)} null `sz` rows — " +
                  "partitions written before the sz column existed " +
                  "were appended to; run Manifest.rebuild to migrate")
          }
        }
    }
    import org.apache.spark.storage.StorageLevel
    val (newL, newMap) = longIds(newDf, idCol)
    val newSig = shingleMinhash(newL, idCol, textCol, shingleN, k)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val keptCols = Seq(col(idCol).as("id"), col("sh"), col("sig")) ++
      (if (hasSz) Seq(col("sz")) else Nil)
    val keptSig = store.select(keptCols: _*)
    restoreIds(crossPairsFromSigs(newSig, keptSig, k, bands,
      minJaccard, Sizing.broadcastableBatch(newDf)), newMap,
      Seq("new_id"))
  }

  /** Keep exactly the new-batch docs with NO verified near-dup in the
    * store — [[dedupAgainst]]'s incremental twin over a persisted
    * [[signatureStore]].
    *
    * The NEW side collapses to distinct contents before the band join
    * (the clusterEdges lesson: novelty is a function of content, and
    * an uncollapsed batch clique of c docs would multiply every kept
    * match c× — measured as the bipartite clique product at the 100×
    * probe); matches re-expand through the content key, so the
    * keep-set is IDENTICAL. The kept side is the store as given —
    * per-member rows band correctly either way (a kept clone matches
    * like its twin), costing one candidate per kept MEMBER of a
    * matching clique (linear). A pipeline that wants the kept side
    * collapsed too builds its store over the [[exactDeduped]] corpus —
    * content identity makes that loss-free for this keep/drop
    * decision. */
  def dedupAgainstStore(newDf: DataFrame, idCol: String,
      textCol: String, store: DataFrame, k: Int = 16, bands: Int = 8,
      shingleN: Int = 3, minJaccard: Double = 0.7,
      checkWidths: Boolean = true): DataFrame = {
    val newKeyed = newDf
      .select(col(idCol), md5(col(textCol)).as("__ck"))
    val newReps = newKeyed.groupBy(col("__ck"))
      .agg(min(col(idCol)).as("__rep"))
    val newRepDocs = newDf.join(
      newReps.select(col("__rep").as(idCol)), Seq(idCol), "left_semi")
    val matchedRep = crossCorpusPairsFromStore(newRepDocs, idCol,
      textCol, store, k, bands, shingleN, minJaccard, checkWidths)
      .select(col("new_id").as("__rep")).distinct()
    val matchedIds = newKeyed
      .join(newReps.join(matchedRep, "__rep"), "__ck")
      .select(col(idCol))
    newDf.join(matchedIds, Seq(idCol), "left_anti")
  }

  /** ONE step of the continuous-ingest lifecycle: dedup a new batch
    * against the persisted [[signatureStore]], then grow the store by
    * exactly the survivors' own signature rows — the loop a 100-TB
    * pipeline runs per arriving batch (batch N+1 must see batch N's
    * accepted content without the kept TEXT ever being re-scanned).
    * Returns (survivors, grownStore); write the grown store back as a
    * parquet APPEND of its new rows (they are precisely
    * `signatureStore(survivors)` — the prior store file is immutable).
    *
    * Scale shape: the store-side cost is the one band join inside
    * [[dedupAgainstStore]]; the append re-hashes only batch-local
    * survivor text (batch ≪ corpus — the collapsed rep hashing inside
    * the match plus this append is ≤ 2× batch-local CPU and no extra
    * kept-side work). A hash-ONCE variant (build the batch's full
    * (id, sh, sig) frame up front, semi-join reps and filter
    * survivors from it) was built and MEASURED WORSE at 100×
    * (42.8 s / 3,008 MB shuffle vs this composition's 29.9 s /
    * 1,163 MB, SCALE.md round-15): the wide ~900 B signature rows
    * ride two extra id-keyed shuffles (rep semi-join + survivor
    * filter), and re-shuffling arrays costs more than re-hashing
    * text — hashing is embarrassingly parallel map-side CPU, the
    * shuffle is the cluster's scarce resource. Keep/drop here is
    * vs-store only; within-batch duplicates are deliberately left to
    * a separate [[minhashLsh]] + [[clusterDeduped]] pass when the
    * caller wants them collapsed — exactly [[dedupAgainst]]'s
    * contract. */
  def ingestBatch(store: DataFrame, newDf: DataFrame, idCol: String,
      textCol: String, k: Int = 16, bands: Int = 8, shingleN: Int = 3,
      minJaccard: Double = 0.7,
      checkWidths: Boolean = true): (DataFrame, DataFrame) = {
    val survivors = dedupAgainstStore(newDf, idCol, textCol, store,
      k, bands, shingleN, minJaccard, checkWidths)
    // align a pre-`sz` store so the union's schema matches the fresh
    // append's (computed sizes, never null-filled)
    val aligned = if (store.columns.contains("sz")) store
      else store.withColumn("sz", size(col("sh")))
    val grown = aligned.unionByName(
      signatureStore(survivors, idCol, textCol, k, shingleN))
    (survivors, grown)
  }

  /** Retract (un-keep) documents from a [[signatureStore]] FRAME:
    * remove the signature rows of `ids` — the late-decontamination /
    * takedown path. The result is row-identical to
    * `signatureStore(corpus minus ids)` (store rows are per-id), so
    * retract-then-ingest ≡ rebuild-from-surviving-corpus: a future
    * batch's near-dup of a retracted doc SURVIVES, exactly as if the
    * doc had never been kept (RetractionSpec + the q197 gate). The id
    * list is takedown-sized — broadcast anti-join, no store shuffle. */
  def retract(store: DataFrame, ids: DataFrame, idCol: String)
      : DataFrame =
    store.join(broadcast(ids.select(col(idCol)).distinct()),
      Seq(idCol), "left_anti")

  /** Surviving NEW rows of an incremental batch: anti-join against the
    * batch's verified cross-corpus matches. Within-batch duplicates are a
    * separate pass — run [[minhashLsh]] + [[clusterDeduped]] on the
    * survivors before appending them to the kept corpus. */
  def dedupAgainst(newDf: DataFrame, keptDf: DataFrame,
      idCol: String, textCol: String, k: Int = 16, bands: Int = 8,
      shingleN: Int = 3, minJaccard: Double = 0.7): DataFrame = {
    // collapse BOTH sides to distinct contents before the band join
    // (the clusterEdges lesson, round 13): novelty is a function of
    // content alone, so the pair search need only see one doc per
    // distinct text — a boilerplate clique on either side would
    // otherwise emit clique-quadratic candidates. Matches re-expand
    // through the content key, so the kept/novel answer is IDENTICAL.
    val newKeyed = newDf
      .select(col(idCol), md5(col(textCol)).as("__ck"))
    val newReps = newKeyed.groupBy(col("__ck"))
      .agg(min(col(idCol)).as("__rep"))
    val newRepDocs = newDf.join(
      newReps.select(col("__rep").as(idCol)), Seq(idCol), "left_semi")
    val keptRepDocs = keptDf.join(
      keptDf.select(col(idCol), md5(col(textCol)).as("__ck"))
        .groupBy(col("__ck")).agg(min(col(idCol)).as("__rep"))
        .select(col("__rep").as(idCol)),
      Seq(idCol), "left_semi")
    val matchedRep = crossCorpusPairs(newRepDocs, keptRepDocs, idCol,
      textCol, k, bands, shingleN, minJaccard)
      .select(col("new_id").as("__rep")).distinct()
    // every new doc whose CONTENT matched (via its rep) is a dup
    val matchedIds = newKeyed
      .join(newReps.join(matchedRep, "__rep"), "__ck")
      .select(col(idCol))
    newDf.join(matchedIds, Seq(idCol), "left_anti")
  }

  /** Connected components over near-duplicate pairs — the step that turns
    * pairwise matches into dedup CLUSTERS (keep one doc per component).
    * Hash-min label propagation: every node starts as its own component
    * and iteratively takes the min component id among itself and its
    * neighbors; converges in O(cluster diameter) rounds — near-dup
    * clusters are small by construction, so a handful of bounded
    * iterations (each one join + one aggregation shuffle over the PAIR
    * set, not the corpus). `maxIter` bounds propagation STEPS; a
    * component whose diameter needs more fails loudly. Output: (id, comp)
    * for every id appearing in a pair; unpaired docs are trivially their
    * own component. */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 50): DataFrame = {
    // LAZY checkpoint per round, materialized by the convergence count:
    // the checkpoint cuts the logical lineage — without it the returned
    // plan nests every iteration's joins (thousands of plan nodes by
    // round 5, paid at analysis time even though caches make execution
    // cheap) — and marking it lazy lets the count() that every round
    // needs anyway trigger the snapshot, ONE job per round where the
    // eager-checkpoint + count pair was two. With a cluster checkpoint
    // dir configured (sc.setCheckpointDir), rounds snapshot RELIABLY to
    // that storage and survive executor loss — the right mode on a
    // preemptible 1000-executor cluster. Without one, localCheckpoint
    // keeps the snapshot in executor storage: faster, but not
    // recomputable after executor loss (the loop re-runs from scratch
    // in that case).
    val reliable =
      pairs.sparkSession.sparkContext.getCheckpointDir.isDefined
    // reliable checkpoints stay EAGER: a lazy reliable checkpoint
    // re-runs the round's lineage a second time to write the snapshot
    // (RDD.checkpoint contract), which costs more than the count job
    // the laziness saves; localCheckpoint saves its blocks during the
    // first computation, so lazy is free there
    def snap(d: DataFrame): DataFrame =
      if (reliable) d.checkpoint(eager = true)
      else d.localCheckpoint(eager = false)
    // Edges are SNAPSHOTTED (not merely persisted): every round's stages
    // serialize the edge side's task binary anew, and with the full
    // upstream lineage attached (LSH banding, minhash kernels, corpus
    // scans) that measured ~36 ms of executor DESERIALIZE per task on
    // the CC-heavy queries — 27 s across q200's loop, more than the
    // tasks' own compute. The snapshot truncates the plan to a scan of
    // materialized blocks; the count below triggers it (lazy local
    // checkpoints materialize on their first job) and doubles as the
    // loop-width probe.
    val edges = snap(pairs
      .select(col(idA).cast("long").as("src"),
        col(idB).cast("long").as("dst"))
      .unionByName(pairs
        .select(col(idB).cast("long").as("src"),
          col(idA).cast("long").as("dst")))
      .distinct())
    // Loop aggregation width sized by the measured edge count instead
    // of the session constant: each round shuffles ≤ nodes + edges rows
    // of 24 bytes, so the session width (sized for corpus-scale stages)
    // runs near-empty tasks every round at small scale — pure per-task
    // overhead — while the cap keeps full fan-out on a real cluster.
    // 256 Ki rows ≈ 6 MB per aggregation task.
    val cap = pairs.sparkSession.sessionState.conf.numShufflePartitions
    val nEdges = edges.count()
    val w = math.min(cap.toLong, nEdges / 262144L + 1L).toInt
    // no init snapshot: round 1's plan holds the (small) distinct
    // directly, and every later round starts from a checkpointed frame
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
    // snapshots THIS loop created, released round over round — tracked
    // explicitly rather than via checkpointRdd(labels): scanning the
    // round's plan for "the first LogicalRDD" would, on round 1 (whose
    // labels are not yet checkpointed), walk into the EDGES lineage and
    // unpersist a checkpointed frame the CALLER owns (e.g.
    // incrementalComponents' prevComps — a real bug this tracking
    // fixed, caught by IncrementalComponentsSpec)
    var lastSnap: Option[org.apache.spark.rdd.RDD[_]] = None
    var i = 0
    var converged = false
    while (!converged && i < maxIter) {
      // TWO min-propagation steps per materialization (half the
      // snapshot/count jobs of one-step rounds — the loop's cost at
      // bench scale is per-round job latency, not data). Min-label
      // propagation is monotone non-increasing, so the two-step
      // composition reaches the same unique fixpoint, and "no change
      // across the double step" stays a sound convergence test (a
      // step-1 change cannot be undone by step 2).
      //
      // Step 1: plain fused exchange — own label and neighbor labels
      // ride one union into one hash aggregate; min(when(__old, comp))
      // recovers the pre-step label (the unique __old row per id; every
      // node appears in `labels`, so the row always exists).
      val msgs1 = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("comp"), lit(false).as("__old"))
      val mid = labels
        .select(col("id"), col("comp"), lit(true).as("__old"))
        .unionByName(msgs1)
        .repartition(w, col("id"))
        .groupBy(col("id"))
        .agg(min(col("comp")).as("comp"),
          min(when(col("__old"), col("comp"))).as("__oldc"))
      // Step 2: same shape over `mid`; the original label rides the own
      // row's __oldc (neighbors contribute null, which min() ignores).
      val msgs2 = edges
        .join(mid.select(col("id").as("src"), col("comp")), "src")
        .select(col("dst").as("id"), col("comp"),
          lit(null).cast("long").as("__oldc"))
      val stepped = snap(
        mid.select(col("id"), col("comp"), col("__oldc"))
          .unionByName(msgs2)
          .repartition(w, col("id"))
          .groupBy(col("id"))
          .agg(min(col("comp")).as("__newc"),
            min(col("__oldc")).as("__oldc")))
      val changed = stepped.filter(col("__newc") =!= col("__oldc")).count()
      // release the PREVIOUS round's snapshot explicitly (`stepped` was
      // its last reader) — otherwise up to maxIter checkpointed label
      // copies sit in executor storage until GC
      lastSnap.foreach(_.unpersist(blocking = false))
      lastSnap = checkpointRdd(stepped)
      labels = stepped.select(col("id"), col("__newc").as("comp"))
      converged = changed == 0
      i += 2
    }
    checkpointRdd(edges).foreach(_.unpersist(blocking = false))
    // silent non-convergence would split clusters and KEEP duplicates —
    // fail loudly instead (a >maxIter-diameter chain is pathological but
    // possible in templated corpora). maxIter bounds propagation STEPS,
    // and each round runs two, so the loop stops at the first even
    // count >= maxIter
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $i propagation " +
          s"steps (maxIter = $maxIter) — a component's diameter " +
          "exceeds maxIter; raise maxIter")
    labels
  }

  /** The CLEANED corpus after exact dedup: one row per distinct
    * normalized text, keeping the smallest-id representative — the output
    * shape a training pipeline actually feeds downstream ([[exact]]
    * returns the group table instead). One extra semi-join over the
    * already-shuffled groups. */
  def exactDeduped(df: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    df.join(exact(df, idCol, textCol)
        .select(col("keep_id").as(idCol)), Seq(idCol), "left_semi")

  /** The CLEANED corpus after near-dup clustering: from pairwise matches
    * (any of the near-dup passes), collapse transitive clusters with
    * [[connectedComponents]] and keep each cluster's smallest id plus
    * every unpaired row. The anti-join removes exactly the ids whose
    * component representative is a DIFFERENT id. */
  def clusterDeduped(df: DataFrame, idCol: String, pairs: DataFrame,
      idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    val losers = connectedComponents(pairs, idA, idB)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Corpus-global exact PARAGRAPH dedup — the RefinedWeb / MassiveText
    * line-level rule: a paragraph that appears anywhere earlier in the
    * corpus (by (id, position) order) is removed from every LATER
    * occurrence, and each doc is reassembled from its surviving
    * paragraphs. Catches the boilerplate class exact whole-doc dedup
    * misses (shared headers/footers/navigation) without the fuzzy
    * machinery of [[minhashLsh]].
    *
    * Paragraph identity = md5 of the trimmed, lowercased paragraph
    * (engine-portable; collisions ~n²/2¹²⁸). First occurrence = least
    * (id, idx) under the id column's natural ordering — deterministic
    * across partitionings and engines.
    *
    * Scale shape: the corpus-global decision runs entirely over
    * (id, idx, hash) postings — ONE hash shuffle on the paragraph hash
    * (min-struct aggregate, map-side combined), one (id)-keyed
    * aggregate of surviving positions into a per-doc index list, and
    * ONE sort-merge join of that keep-list back to the corpus; the
    * text column itself crosses the wire exactly once, in that final
    * join. Reassembly is an expression (filter-by-index over the
    * split), not a second explode. Emits every input row: (id,
    * text_clean, n_paras, n_paras_kept) — a doc whose every paragraph
    * was seen earlier comes back with empty text_clean, the caller
    * decides whether to drop it. */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n\n"): DataFrame = {
    require(sep.nonEmpty, "paragraph separator must be non-empty")
    val sepRe = java.util.regex.Pattern.quote(sep)
    val paras = split(col(textCol), sepRe)
    val postings = df
      .select(col(idCol), posexplode(paras).as(Seq("__idx", "__p")))
      .select(col(idCol), col("__idx"),
        md5(lower(trim(col("__p")))).as("__h"))
    val winners = postings
      .groupBy("__h")
      .agg(min(struct(col(idCol), col("__idx"))).as("__w"))
    val keepIdx = postings
      .join(winners, Seq("__h"))
      .filter(struct(col(idCol), col("__idx")) === col("__w"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__idx"))).as("__keep"))
    // a doc can lose EVERY paragraph (e.g. an exact copy of an earlier
    // doc) — its keep-list join misses, so default to the empty list
    // before size()/filter() (size(null) is -1 under the legacy conf)
    val keep = coalesce(col("__keep"), array().cast("array<int>"))
    df.join(keepIdx, Seq(idCol), "left")
      .select(col(idCol),
        array_join(filter(paras, (_, i) => array_contains(keep, i)), sep)
          .as("text_clean"),
        size(paras).cast("long").as("n_paras"),
        size(keep).cast("long").as("n_paras_kept"))
  }

  /** The materialized RDD behind an eagerly localCheckpoint'ed frame
    * (LogicalRDD leaf), for explicit storage release. */
  private def checkpointRdd(d: DataFrame)
      : Option[org.apache.spark.rdd.RDD[_]] =
    d.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** Exact Jaccard over two distinct-shingle arrays. */
  def exactJaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }

  /** n-gram Jaccard scoring of a (small, broadcast) probe set against the
    * corpus: all (probe, doc) pairs with distinct ids and jaccard ≥
    * threshold (when both members of a pair are probes the mirrored pair
    * appears too; dedup-scan callers filter id_a < id_b).
    *
    * Probe shingle sets are collected and broadcast (probes are small by
    * contract — a handful of query documents); each corpus partition then
    * scans its rows against them imperatively: exact size-ratio prune
    * (J ≤ min/max sizes — can never drop a qualifying pair), sorted-merge
    * intersection over 64-bit shingle hashes. Jaccard identical to the
    * string-set definition modulo ~n²/2⁶⁴ hash collisions. */
  def ngramJaccardProbe(probes: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      threshold: Double = 0.2, maxProbes: Long = 10000L): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // the probe shingle sets are collected and broadcast — enforce the
    // "small by contract" premise instead of letting a corpus-sized probe
    // frame OOM the driver (same defaults-shaped-caller guard as
    // embeddingNearDups' exact path)
    val nProbes = probes.count()
    require(nProbes <= maxProbes,
      s"ngramJaccardProbe broadcasts the probe set; got $nProbes probes " +
        s"> maxProbes = $maxProbes — use minhashLsh for corpus-vs-corpus " +
        s"dedup, or raise maxProbes explicitly")
    val (probesL, probeMap) = longIds(probes, idCol)
    val (corpusL, corpusMap) = longIds(corpus, idCol)
    def sorted(sh: Array[Long]): Array[Long] = {
      val s = sh.clone(); java.util.Arrays.sort(s); s
    }
    val probeSets: Array[(Long, Array[Long])] =
      shingleMinhash(probesL, idCol, textCol, n, k = 1)
        .select("id", "sh").as[(Long, Array[Long])]
        .collect().map { case (id, sh) => (id, sorted(sh)) }
    val bc = spark.sparkContext.broadcast(probeSets)
    val scored = shingleMinhash(corpusL, idCol, textCol, n, k = 1)
      .select("id", "sh").as[(Long, Array[Long])]
      .mapPartitions { it =>
        val ps = bc.value
        it.flatMap { case (cid, shC) =>
          val c = sorted(shC)
          ps.iterator.flatMap { case (pid, p) =>
            val mn = math.min(p.length, c.length).toDouble
            val mx = math.max(p.length, c.length).toDouble
            if (pid == cid || mn / mx < threshold) Iterator.empty
            else {
              var i = 0; var j = 0; var inter = 0
              while (i < p.length && j < c.length) {
                if (p(i) == c(j)) { inter += 1; i += 1; j += 1 }
                else if (p(i) < c(j)) i += 1
                else j += 1
              }
              val uni = p.length + c.length - inter
              val jac = inter.toDouble / uni
              if (jac >= threshold) Iterator.single((pid, cid, jac))
              else Iterator.empty
            }
          }
        }
      }
      .toDF("id_a", "id_b", "jaccard")
    restoreIds(restoreIds(scored, probeMap, Seq("id_a")),
      corpusMap, Seq("id_b"))
  }

  /** Imperative SimHash frame (id, fp): bit-for-bit identical to the
    * expression form (token hash = XXH64 of UTF-8 bytes, seed 42 — exactly
    * Spark's xxhash64) but one JVM pass instead of 64 interpreted
    * bit-aggregates per row. */
  private[pipeline] def simhashFrame(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"),
      col(textCol).cast("string").as("text"))
      .repartition(defaultParallelism(df))
      .as[(Long, String)]
      .mapPartitions { it =>
        val counts = new Array[Int](64)
        it.map { case (id, text) =>
          java.util.Arrays.fill(counts, 0)
          val toks = Tokens.lowered(text)
          var t = 0
          while (t < toks.length) {
            val h = hashToken(toks(t), 42L)
            var i = 0
            while (i < 64) {
              if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
              i += 1
            }
            t += 1
          }
          var fp = 0L
          var i = 0
          while (i < 64) { if (counts(i) > 0) fp |= (1L << i); i += 1 }
          (id, fp)
        }
      }
      .toDF("id", "fp")
  }

  /** 64-bit SimHash of the token multiset: bit i of the fingerprint is the
    * sign of Σ_tokens (bit i of xxhash64(token) ? +1 : -1). */
  def simhash64(text: Column): Column = simhash64Tokens(tokens(text))

  def simhash64Tokens(toks: Column): Column =
    (0 until 64).map { i =>
      val bitSum = aggregate(toks, lit(0),
        (acc, t) => acc +
          when(shiftright(xxhash64(t), i).bitwiseAND(1) === 1, 1)
            .otherwise(-1))
      when(bitSum > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs with hamming ≤ maxHamming, blocked on 16-bit
    * fingerprint quarters (pigeonhole: ≤3 differing bits leaves at least one
    * of 4 blocks identical, so blocking is lossless for maxHamming ≤ 3). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "16-bit blocking is lossless only up to 3")
    val (dfL, idMap) = longIds(df, idCol)
    // one imperative pass per row (see simhashFrame) — bit-identical to
    // the 64 interpreted bit-aggregate expressions, ~10× cheaper.
    // Persisted: both sides of the block self-join read this frame, and
    // unpersisted each side would re-scan the text and re-run the
    // fingerprint kernel (see minhashLsh for the same pattern). The cached
    // projection is 16 bytes/row — the text column stays out of it.
    val withFp = simhashFrame(dfL, idCol, textCol)
      .select(col("id"), col("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val blocked = withFp.select(col("id"), col("fp"),
      posexplode(array((0 until 4).map(q =>
        shiftright(col("fp"), q * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("block_idx", "block_val")))
    val a = blocked.select(col("block_idx"), col("block_val"),
      col("id").as("id_a"), col("fp").as("fp_a"))
    val b = blocked.select(col("block_idx"), col("block_val"),
      col("id").as("id_b"), col("fp").as("fp_b"))
    def block(fp: Column, q: Int): Column =
      shiftright(fp, q * 16).bitwiseAND(lit(0xFFFFL))
    // first-matching-block filter instead of dropDuplicates (see
    // minhashLsh) — dedupe without an extra shuffle
    val firstMatch = (0 until 4).map { q =>
      col("block_idx") === q && (0 until q)
        .map(j => block(col("fp_a"), j) =!= block(col("fp_b"), j))
        .foldLeft(lit(true))(_ && _)
    }.reduce(_ || _)
    val out = a.join(b, Seq("block_idx", "block_val"))
      .filter(col("id_a") < col("id_b"))
      .filter(firstMatch)
      .select(col("id_a"), col("id_b"),
        hamming64(col("fp_a"), col("fp_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
    restoreIds(out, idMap, Seq("id_a", "id_b"))
  }

  /** Embedding-cosine near-duplicates: pairs with cosine ≥ threshold.
    *
    * DEFAULT (`planes > 0`) is the scale path: rows bucket by
    * random-hyperplane sign signature first (see Similarity) so the
    * self-join is per-bucket, not full O(n²) — approximate (a pair only
    * surfaces when all plane signs agree; identical vectors always do).
    *
    * `planes = 0` is an EXPLICIT exact mode for oracles/tests: a full
    * O(n²) cross-join with a whole-corpus broadcast. To keep a
    * defaults-shaped caller from accidentally cross-joining a large
    * corpus, the exact path requires the input under `exactMaxRows`
    * (counted on the raw input — a metadata-cheap parquet count). */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Int = 4,
      exactMaxRows: Long = 100000L): DataFrame = {
    if (planes <= 0) {
      val n = df.count()
      require(n <= exactMaxRows,
        s"embeddingNearDups(planes = 0) is the exact O(n²) oracle path; " +
          s"corpus has $n rows > exactMaxRows = $exactMaxRows — use the " +
          s"LSH path (planes > 0) at scale, or raise exactMaxRows " +
          s"explicitly")
    }
    val (dfL, idMap) = longIds(df, idCol)
    // precompute the norm per row (barrier) so the pair scan does one dot
    // product per pair instead of re-deriving both norms every time
    val base = dfL.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
      .repartition(defaultParallelism(df))
    if (planes <= 0) {
      // exact path (oracle/tests; the signature-bucketed branch is the
      // scale path): a BroadcastNestedLoopJoin — Spark builds and ships
      // the build side through its own broadcast machinery (subject to the
      // engine's broadcast-size guard), never a hand-rolled driver
      // collect. The dot product is the codegen'd DotProduct expression
      // (ascending index order — value-identical to the old kernel).
      val a = base.select(col("id").as("id_a"), col("v").as("v_a"),
        col("nrm").as("n_a"))
      val b = base.select(col("id").as("id_b"), col("v").as("v_b"),
        col("nrm").as("n_b"))
      val exact = a.join(broadcast(b), col("id_a") < col("id_b"))
        .withColumn("cosine",
          when(col("n_a") * col("n_b") === 0, lit(0.0))
            .otherwise(Similarity.dot(col("v_a"), col("v_b")) /
              (col("n_a") * col("n_b"))))
        .filter(col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
      return restoreIds(exact, idMap, Seq("id_a", "id_b"))
    }
    val paired = {
        // persisted: the bucket self-join reads this twice; unpersisted,
        // each side re-scans the embeddings and recomputes norm+signature
        val withSig = base.withColumn("sig",
          Similarity.hyperplaneSignature(col("v"), planes, dim = 64,
            seed = 7))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        withSig.select(col("sig"), col("id").as("id_a"),
          col("v").as("v_a"), col("nrm").as("n_a"))
          .join(withSig.select(col("sig"), col("id").as("id_b"),
            col("v").as("v_b"), col("nrm").as("n_b")), Seq("sig"))
          .filter(col("id_a") < col("id_b"))
      }
    val out = paired
      .withColumn("cosine",
        when(col("n_a") * col("n_b") === 0, lit(0.0))
          .otherwise(Similarity.dot(col("v_a"), col("v_b")) /
            (col("n_a") * col("n_b"))))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
    restoreIds(out, idMap, Seq("id_a", "id_b"))
  }

  // ------------------------------------ exact-substring dedup (suffix-array
  // semantics: remove every non-first occurrence of any >= k-token repeat)

  /** Positional k-gram frame (id, pos, __gh): EVERY overlapping token
    * k-gram in document order (multiplicity and position preserved —
    * unlike [[shingleMinhash]]'s distinct set, span removal needs to know
    * WHERE each gram sits). One imperative tokenize + rolling-hash pass
    * per row; output rows are 20 bytes. Gram identity is the chained
    * XXH64 over token hashes — two distinct grams colliding (~2⁻⁶⁴)
    * would spuriously mark a span, the same accepted odds as [[longIds]].
    * Requires a long-castable id. */
  private[pipeline] def positionalGramFrame(df: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"),
      col(textCol).cast("string").as("text"))
      .repartition(defaultParallelism(df))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val toks = Tokens.lowered(text)
        val L = toks.length - (k - 1)
        if (L <= 0) Iterator.empty
        else {
          val th = new Array[Long](toks.length)
          var i = 0
          while (i < toks.length) { th(i) = hashToken(toks(i), 42L); i += 1 }
          Iterator.range(0, L).map { p =>
            var h = 42L
            var j = 0
            while (j < k) {
              h = org.apache.spark.sql.catalyst.expressions.XXH64
                .hashLong(th(p + j), h)
              j += 1
            }
            (id, p, h)
          }
        }
      })
      .toDF("id", "pos", "__gh")
  }

  /** Merged token spans of duplicated >= k-token substrings — the
    * deduplicating-training-data operator (Lee et al. 2022's ExactSubstr,
    * arXiv:2107.06499) re-expressed for Spark: instead of one giant
    * suffix array, any repeat of length >= k is witnessed by its
    * overlapping k-grams, so ranking every positional k-gram occurrence
    * globally (first occurrence in (id, pos) order is the keeper) and
    * merging the non-first positions into islands yields exactly the
    * non-first repeated regions. Emits (idCol, span_start, span_end) —
    * token indices, end exclusive.
    *
    * Scale shape: one narrow (id, pos, hash) gram frame; the keeper per
    * gram is `min(struct(id, pos))` — a HASH aggregate with map-side
    * combine, so the hottest boilerplate gram (the operator's raison
    * d'être — a gram can repeat millions of times) reduces to one row
    * per input partition before the exchange, never a single-task
    * per-gram rank sort. Non-first occurrences fall out of a gram-keyed
    * join against that one-keeper-per-gram frame (AQE's skew-join
    * splits the hot gram's probe side); then one shuffle on id for the
    * island merge. Never ships text, never builds a corpus-wide suffix
    * array. Equal-length intervals make the merge a lag-gap scan: a
    * window overlaps-or-touches its predecessor iff pos − prev <= k. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 10): DataFrame = {
    require(k >= 2, s"need k >= 2 tokens, got $k")
    import org.apache.spark.sql.expressions.Window
    val grams = positionalGramFrame(df, idCol, textCol, k)
    // first (id, pos) occurrence per gram — struct min ≡ lexicographic
    // (id, pos) order, the same keeper row_number over (id, pos) picks;
    // a row is a duplicate occurrence iff it is not its gram's keeper,
    // which already implies the gram occurs ≥ 2 times
    // keep only grams that occur ≥ 2 times: in a typical corpus most
    // grams are unique, so this prunes the join's match side to the
    // duplicated minority before any row pairs up (an inner join to the
    // pruned frame drops unique-gram rows — exactly the rows rn=1 kept)
    val firsts = grams.groupBy("__gh")
      .agg(min(struct(col("id"), col("pos"))).as("__first"),
        count(lit(1)).as("__cnt"))
      .filter(col("__cnt") >= 2)
    val dup = grams
      .join(firsts, "__gh")
      .filter(struct(col("id"), col("pos")) =!= col("__first"))
      .select("id", "pos")
    val perDoc = Window.partitionBy("id").orderBy("pos")
    dup
      .withColumn("__prev", lag("pos", 1).over(perDoc))
      .withColumn("__isl", sum(
        when(col("__prev").isNull || col("pos") - col("__prev") > k, 1)
          .otherwise(0)).over(perDoc))
      .groupBy(col("id"), col("__isl"))
      .agg(min("pos").as("span_start"),
        (max("pos") + k).as("span_end"))
      .select(col("id").as(idCol),
        col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"))
  }

  /** The corpus with every duplicated >= k-token substring removed from
    * all but its first (id, pos) occurrence — suffix-array dedup's output
    * frame. Emits (idCol, text_clean, n_spans, removed_tokens,
    * kept_tokens); text_clean is NORMALIZED (lowercased, whitespace
    * collapsed) because spans are defined over normalized tokens.
    * Untouched docs pass through with n_spans = 0. The span payload rides
    * one left join keyed on id (a handful of (start, end) pairs per doc);
    * token filtering is a per-row kernel pass, no token-level explode. */
  def removeRepeatedSubstrings(df: DataFrame, idCol: String,
      textCol: String, k: Int = 10): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val spans = duplicateSpans(df, idCol, textCol, k)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(
        col("span_start").as("_1"), col("span_end").as("_2")))).as("__sp"))
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .join(spans, Seq(idCol), "left")
      .as[(Long, String, Seq[(Long, Long)])]
      .mapPartitions(_.map { case (id, text, sp) =>
        val toks = Tokens.lowered(text)
        if (sp == null || sp.isEmpty)
          (id, toks.mkString(" "), 0L, 0L, toks.length.toLong)
        else {
          val kept = new scala.collection.mutable.ArrayBuffer[String]()
          val it = sp.iterator
          var (s, e) = it.next()
          var p = 0
          while (p < toks.length) {
            if (p < s) kept += toks(p)
            else if (p >= e && it.hasNext) { val n = it.next(); s = n._1; e = n._2
              if (p < s) kept += toks(p) }
            else if (p >= e) kept += toks(p)
            p += 1
          }
          (id, kept.mkString(" "), sp.size.toLong,
            toks.length.toLong - kept.size, kept.size.toLong)
        }
      })
      .toDF(idCol, "text_clean", "n_spans", "removed_tokens", "kept_tokens")
  }

  /** Asymmetric n-gram CONTAINMENT near-dup: pairs whose one-sided
    * shingle containment C(A,B) = |S_A ∩ S_B| / |S_A| (either
    * direction) reaches `threshold`. Jaccard ([[minhashLsh]], q23/q24)
    * misses the subset-duplication case this exists for — a document
    * embedded whole inside a longer one scores J ≈ |small|/|big|
    * (arbitrarily low) but containment 1.0 (Broder'97's two resemblance
    * measures; containment is the one that catches quote-expansion and
    * page-within-crawl dups).
    *
    * Scale shape: a distributed inverted-index self-join — (gram-hash,
    * id) postings, pairs meet per shared gram and reduce to exact
    * intersection counts (one hash shuffle on the gram hash, one on the
    * id pair; text never moves — the [[duplicateSpans]] discipline).
    * All-pairs work is Σ_g df(g)², guarded TWICE by one
    * aggregation-only audit job over the postings before the join
    * runs: `maxDf` bounds the longest single posting list (a stop-gram
    * of length d contributes d² pairs on its own), and `maxPairs`
    * bounds the TOTAL Σ_g df(g)² fan-out — a corpus of many mid-df
    * grams can blow the pair budget while every individual gram stays
    * under maxDf. Both fail loudly rather than silently running a
    * quadratic join (the SemDeDup `maxCellRows` contract). Raising a
    * bound is an explicit caller decision; dropping high-df grams
    * would change the measure, so it is not done silently.
    *
    * Containment is exact over 64-bit gram hashes (collisions ~n²/2⁶⁴,
    * the [[ngramJaccardProbe]] disclaimer). Output: id_a < id_b,
    * `inter`, sizes, both directed containments, `containment` =
    * max of the two; ids restored to their original type. */
  /** The SCALE PATH for containment listing: collapse exact contents
    * (md5) to their min-id representative and list containment pairs
    * between DISTINCT contents only, each side annotated with its
    * exact-duplicate group size (`members_a` / `members_b`). The
    * clique-quadratic listing the 100× probe refused (27.9B gram-pair
    * rows at factor 100 — SCALE.md round 13) becomes linear in
    * distinct contents: within-group pairs are containment 1 BY
    * DEFINITION and are represented by `members_k > 1`, never
    * materialized; a consumer needing the expanded pair COUNT reads
    * members_a·members_b per row (plus C(members,2) per group).
    * Containment is a function of content alone, so the rep-level pair
    * set carries exactly the cross-content information of the full
    * listing. Same loud maxDf/maxPairs audits, now over distinct-
    * content postings. */
  def containmentByContent(corpus: DataFrame, idCol: String,
      textCol: String, n: Int = 3, threshold: Double = 0.8,
      maxDf: Long = 10000L, maxPairs: Long = 100000000L): DataFrame = {
    val keyed = corpus.select(col(idCol),
      md5(col(textCol).cast("string")).as("__ck"))
    val groups = keyed.groupBy(col("__ck"))
      .agg(min(col(idCol)).as("__rep"), count(lit(1)).as("__members"))
    val repDocs = corpus.join(
      groups.select(col("__rep").as(idCol)), Seq(idCol), "left_semi")
    val pairs = containmentPairs(repDocs, idCol, textCol, n,
      threshold, maxDf, maxPairs)
    val m = groups.select(col("__rep"), col("__members"))
    pairs
      .join(m.select(col("__rep").as("id_a"),
        col("__members").as("members_a")), Seq("id_a"))
      .join(m.select(col("__rep").as("id_b"),
        col("__members").as("members_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("inter"), col("sz_a"),
        col("sz_b"), col("containment_ab"), col("containment_ba"),
        col("containment"), col("members_a"), col("members_b"))
  }

  def containmentPairs(corpus: DataFrame, idCol: String,
      textCol: String, n: Int = 3, threshold: Double = 0.8,
      maxDf: Long = 10000L, maxPairs: Long = 100000000L): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "containment threshold must be in (0, 1]")
    val (corpusL, idMap) = longIds(corpus, idCol)
    // persisted compact projection (id + gram hashes — text stays out):
    // the audit job, both posting sides, and the size frame all read it
    // (the simhashPairs / minhashLsh cache pattern)
    val sh = shingleMinhash(corpusL, idCol, textCol, n, k = 1)
      .select(col("id"), col("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val postings = sh.select(col("id"), explode(col("sh")).as("gh"))
    // one aggregation-only audit job answers BOTH guards: the hottest
    // single gram (max df) AND the total join fan-out Σ_g df(g)² —
    // a corpus of many mid-df grams can blow the pair budget while
    // every individual gram stays under maxDf, so the per-gram bound
    // alone would wave a quadratic join through
    // the Σdf² sum rides decimal(38,0): with maxDf raised into the
    // millions (an explicitly supported caller decision) a long sum
    // wraps past 2^63 with ANSI off — and a wrapped-negative total
    // would wave through exactly the quadratic join this guard exists
    // to stop
    val audit = postings.groupBy("gh").count()
      .agg(max("count").as("m"),
        sum(col("count").cast("decimal(38,0)") * col("count"))
          .as("p")).collect()
    val topDf = audit.headOption
      .flatMap(r => Option(r.get(0)).map(_ => r.getLong(0)))
      .getOrElse(0L)
    val joinPairs = audit.headOption
      .flatMap(r => Option(r.get(1)).map(_ =>
        r.getDecimal(1).toBigInteger))
      .getOrElse(java.math.BigInteger.ZERO)
    if (topDf > maxDf) {
      sh.unpersist()
      throw new IllegalArgumentException(
        s"containmentPairs: hottest gram appears in $topDf docs > " +
          s"maxDf = $maxDf — the inverted-index self-join would " +
          s"produce ~df² pairs for it; raise maxDf explicitly if " +
          "that cost is intended")
    }
    if (joinPairs.compareTo(
        java.math.BigInteger.valueOf(maxPairs)) > 0) {
      sh.unpersist()
      throw new IllegalArgumentException(
        s"containmentPairs: the posting-list self-join would emit " +
          s"Σdf² = $joinPairs gram-pair rows > maxPairs = $maxPairs " +
          "even though no single gram exceeds maxDf — raise maxPairs " +
          "explicitly if that cost is intended")
    }
    val sizes = sh.select(col("id"), size(col("sh")).as("sz"))
    val a = postings.select(col("id").as("id_a"), col("gh"))
    val b = postings.select(col("id").as("id_b"), col("gh"))
    val inter = a.join(b, Seq("gh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
    val scored = inter
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")),
        Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")),
        Seq("id_b"))
      .withColumn("containment_ab",
        col("inter").cast("double") / col("sz_a"))
      .withColumn("containment_ba",
        col("inter").cast("double") / col("sz_b"))
      .withColumn("containment",
        greatest(col("containment_ab"), col("containment_ba")))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "inter", "sz_a", "sz_b",
        "containment_ab", "containment_ba", "containment")
    restoreIds(restoreIds(scored, idMap, Seq("id_a")),
      idMap, Seq("id_b"))
  }
}
