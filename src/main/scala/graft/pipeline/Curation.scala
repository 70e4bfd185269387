package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.Tokens

/** Corpus-curation operators a large-scale training-data pipeline needs
  * beyond dedup: benchmark decontamination (n-gram overlap against an
  * eval set), Gopher-style repetition signals, overlapping token-window
  * chunking, and deterministic stratified sampling for domain mixing.
  *
  * Scale shapes: the benchmark side of decontamination is broadcast (eval
  * sets are small by construction); the corpus side explodes once
  * (narrow) and aggregates per doc. Repetition signals run ONE explode
  * over a union of tagged gram families and two hash aggregations — not
  * one scan per family. Sampling is a pure filter expression (no shuffle)
  * built on an engine-portable md5-derived uniform, so the same rows are
  * kept by any engine that evaluates the same expression. */
object Curation {

  private def toks(text: Column): Column =
    split(trim(lower(text)), "\\s+")

  /** Token n-grams joined with spaces, IN DOCUMENT ORDER with repeats
    * (unlike Dedup.shingles' distinct set — repetition counting needs the
    * multiplicity). Column reference form; the hot paths use the
    * imperative kernels below (interpreted lambdas re-run the tokenizer
    * per element). */
  def ngramList(text: Column, n: Int): Column = {
    val t = toks(text)
    val cnt = size(t) - (n - 1)
    // sequence(1, cnt) would DESCEND for cnt < 1 — no grams instead
    when(cnt < 1, array().cast("array<string>")).otherwise(
      transform(sequence(lit(1), greatest(cnt, lit(1))),
        i => concat_ws(" ", (0 until n).map(j =>
          element_at(t, (i + j).cast("int"))): _*)))
  }

  // --------------------------------------------------- imperative kernels

  /** One-pass (id, gram) emitter of DISTINCT token n-grams per document —
    * the decontamination hot path. The Column form ([[ngramList]] /
    * Dedup.shingles) runs its lambdas interpreted and re-evaluates the
    * tokenizer per gram element; this kernel tokenizes once per row (the
    * md5ShingleFrame precedent). Ids must be integral (cast to long). */
  private[graft] def distinctGramFrame(df: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val toks = Tokens.lowered(text)
        val seen = new java.util.HashSet[String]
        Iterator.range(0, math.max(toks.length - (n - 1), 0)).flatMap { i =>
          val g = toks.slice(i, i + n).mkString(" ")
          if (seen.add(g)) Iterator.single((id, g)) else Iterator.empty
        }
      })
      .toDF(idCol, "__g")
  }

  /** Per-document repetition numerators/denominators, computed entirely
    * in-kernel: gram multiplicity within a document is a function of
    * that document alone, so the previous shape — exploding every
    * 2-gram/3-gram/chunk STRING through a corpus-scale (id, kind, gram)
    * hash exchange plus a second per-doc rollup exchange — shipped the
    * heaviest rows of the whole curation pipeline for values a local
    * counting map folds in one pass. Emits one row per doc:
    * (id, nt, max2, dup3, tot3, dupc, totc) where
    *   max2 = count of the most frequent 2-gram (0 when none),
    *   dup3/tot3 = 3-gram instances whose gram repeats / all instances,
    *   dupc/totc = same over the non-overlapping `chunkWords` chunks.
    * Zeros stand in for the old aggregate's nulls — every consumer
    * expression coalesced nulls to 0 (numerators) or mapped null/0
    * denominators to 0.0, so the final values are bit-identical.
    * Tokenization matches the previous gram emitter exactly (trim,
    * lowercase Locale.ROOT, whitespace split, no empty-token filter). */
  private[pipeline] def repetitionStatFrame(df: DataFrame, idCol: String,
      textCol: String, chunkWords: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val counts = new java.util.HashMap[String, Array[Int]]()
        def bump(g: String): Unit =
          counts.computeIfAbsent(g, _ => new Array[Int](1))(0) += 1
        it.map { case (id, text) =>
          val toks = Tokens.lowered(text)
          val nt = toks.length
          // 2-grams: max multiplicity
          counts.clear()
          var i = 0
          while (i < nt - 1) { bump(toks(i) + " " + toks(i + 1)); i += 1 }
          var max2 = 0L
          counts.forEach((_, c) => if (c(0) > max2) max2 = c(0))
          // 3-grams: duplicated-instance fraction terms
          counts.clear()
          i = 0
          while (i < nt - 2) {
            bump(toks(i) + " " + toks(i + 1) + " " + toks(i + 2)); i += 1
          }
          var dup3 = 0L
          counts.forEach((_, c) => if (c(0) >= 2) dup3 += c(0))
          val tot3 = math.max(nt - 2, 0).toLong
          // non-overlapping chunks: duplicated-instance fraction terms
          counts.clear()
          val nChunks = math.max((nt + chunkWords - 1) / chunkWords, 1)
          var cIdx = 0
          while (cIdx < nChunks) {
            bump(toks.slice(cIdx * chunkWords,
              cIdx * chunkWords + chunkWords).mkString(" "))
            cIdx += 1
          }
          var dupc = 0L
          counts.forEach((_, c) => if (c(0) >= 2) dupc += c(0))
          (id, nt, max2, dup3, tot3, dupc, nChunks.toLong)
        }
      }
      .toDF(idCol, "__nt", "__max2", "__dup3", "__tot3", "__dupc",
        "__totc")
  }

  // ------------------------------------------------------ decontamination

  /** (id, n_hits): documents sharing at least one normalized token
    * n-gram with any benchmark text; n_hits counts the DISTINCT
    * contaminated grams per document. The benchmark gram set is
    * collected and broadcast EAGERLY, while this call builds the plan,
    * so the corpus side never shuffles its text and needs no exchange
    * at all — the per-row kernel counts hits in place. n = 13 is the
    * classic eval-set decontamination window (GPT-3 appendix C / Llama).
    * Ids must be integral (the gram kernel casts to long); wrap arbitrary
    * keys with Dedup.longIds first. */
  def contaminationHits(docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, n: Int = 13): DataFrame = {
    val grams = benchGramSet(docs.sparkSession, bench, benchTextCol, n)
    val hits = udf { text: String =>
      if (text == null) 0L
      else {
        val set = grams.value
        val toks = Tokens.lowered(text)
        val seen = new java.util.HashSet[String]
        val sb = new java.lang.StringBuilder
        var cnt = 0L
        var i = 0
        val L = math.max(toks.length - (n - 1), 0)
        while (i < L) {
          sb.setLength(0)
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(toks(i + j))
            j += 1
          }
          val g = sb.toString
          if (set.contains(g) && seen.add(g)) cnt += 1L
          i += 1
        }
        cnt
      }
    }
    docs.select(col(idCol).cast("long").as(idCol),
        hits(col(textCol)).as("n_hits"))
      .filter(col("n_hits") > 0)
  }

  /** The benchmark gram set collected to a broadcast variable: eval
    * sets are small by construction (the [[contaminationHits]]
    * contract), so the set rides one driver hop and the corpus-side
    * sweep becomes a pure per-row membership scan — no gram explode,
    * no semi-join exchange, no per-doc count shuffle. The cap keeps an
    * accidentally-corpus-sized `bench` from OOMing the driver: the
    * distinct-gram count is checked by a bounded count job BEFORE
    * anything is collected, so an oversized bench fails with the
    * contract message; gram construction is [[Dedup.shingles]]
    * verbatim (the same normalization the previous broadcast
    * semi-join used). EAGER: runs two driver jobs when the caller
    * builds its plan, not when the plan executes — the count, which
    * also caches the distinct grams, and the collect, which reads that
    * cache instead of re-running the gram construction. */
  private def benchGramSet(spark: org.apache.spark.sql.SparkSession,
      bench: DataFrame, benchTextCol: String, n: Int,
      maxGrams: Int = 8388608)
      : org.apache.spark.broadcast.Broadcast[java.util.HashSet[String]] = {
    val grams = bench
      .select(explode(Dedup.shingles(col(benchTextCol), n)).as("__g"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rows = try {
      require(grams.limit(maxGrams + 1).count() <= maxGrams,
        s"contamination bench produced more than $maxGrams distinct " +
          "grams — eval sets are small by contract; split the sweep")
      grams.collect()
    } finally grams.unpersist()
    val set = new java.util.HashSet[String](rows.length * 2)
    rows.foreach(r => set.add(r.getString(0)))
    spark.sparkContext.broadcast(set)
  }

  /** Per-(doc, benchmark) contamination attribution: like
    * [[contaminationHits]] but the benchmark frame carries a NAME
    * column and hits group by (doc, benchmark) — the report a real
    * eval-suite sweep needs ("which doc leaks WHICH benchmark"), since
    * the remediation differs (drop the doc vs renormalize one eval).
    * A gram shared by several benchmarks counts toward each — the
    * attribution semantics, deliberately different from the merged
    * sweep's distinct-gram count.
    *
    * Scale shape: identical to [[contaminationHits]] — the (name,
    * gram) set is benchmark-sized and broadcasts; the corpus's
    * distinct-gram frame joins it gram-keyed and re-aggregates.
    * One extra output dimension, zero extra corpus passes. */
  def contaminationByBench(docs: DataFrame, idCol: String,
      textCol: String, bench: DataFrame, benchNameCol: String,
      benchTextCol: String, n: Int = 13): DataFrame = {
    val benchGrams = broadcast(
      bench.select(col(benchNameCol).as("benchmark"),
          explode(Dedup.shingles(col(benchTextCol), n)).as("__g"))
        .distinct())
    distinctGramFrame(docs, idCol, textCol, n)
      .join(benchGrams, Seq("__g"))
      .groupBy(col(idCol), col("benchmark"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** The corpus with every contaminated document removed — the frame a
    * training pipeline feeds downstream after an eval-set sweep. A pure
    * FILTER against the broadcast bench-gram set (short-circuiting on
    * the first hit): the previous shape re-ran the gram kernel into a
    * per-doc count exchange and anti-joined it back onto the corpus —
    * two corpus-keyed exchanges for a predicate of the row itself.
    * Like [[contaminationHits]], it collects the bench grams eagerly,
    * while the call builds the plan. */
  def decontaminated(docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, n: Int = 13): DataFrame = {
    val grams = benchGramSet(docs.sparkSession, bench, benchTextCol, n)
    val clean = udf { text: String =>
      if (text == null) true
      else {
        val set = grams.value
        val toks = Tokens.lowered(text)
        val sb = new java.lang.StringBuilder
        var i = 0
        val L = math.max(toks.length - (n - 1), 0)
        var ok = true
        while (ok && i < L) {
          sb.setLength(0)
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(toks(i + j))
            j += 1
          }
          if (set.contains(sb.toString)) ok = false
          i += 1
        }
        ok
      }
    }
    docs.filter(clean(col(textCol)))
  }

  // -------------------------------------------------- repetition signals

  /** Per-document repetition quality signals (the Gopher repetition
    * filters, token-based):
    *   - top_2gram_frac:  tokens covered by the most frequent 2-gram
    *     (count × 2 / n_tokens); 0 when the doc has no 2-gram.
    *   - dup_3gram_frac:  fraction of 3-gram INSTANCES whose gram occurs
    *     at least twice in the document.
    *   - dup_chunk_frac:  same, over non-overlapping `chunkWords`-word
    *     chunks (the duplicate-line fraction generalized to chunked text,
    *     like TextAnalysis.scrubBoilerplate).
    * One in-kernel pass over the source ([[repetitionStatFrame]]) —
    * ZERO shuffles regardless of family count: the previous shape's
    * two corpus-scale exchanges carried every gram string for per-doc
    * values the kernel folds locally. */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String,
      chunkWords: Int = 10): DataFrame = {
    require(chunkWords > 0, "need chunkWords > 0")
    def frac(num: Column, den: Column): Column =
      round(when(den.isNull || den === 0, 0.0)
        .otherwise(num.cast("double") / den), 6)
    repetitionStatFrame(df, idCol, textCol, chunkWords)
      .select(col(idCol),
        frac(col("__max2") * 2, col("__nt")).as("top_2gram_frac"),
        frac(col("__dup3"), col("__tot3")).as("dup_3gram_frac"),
        frac(col("__dupc"), col("__totc")).as("dup_chunk_frac"))
  }

  // ------------------------------------------------------------ chunking

  /** Split documents into overlapping token windows for training:
    * windows of `maxTokens` starting every `maxTokens − overlap` tokens;
    * the final window may be shorter but every token is covered exactly
    * once by a window start (n_chunks = max(1, ⌈(T − overlap) /
    * stride⌉)). One posexplode — the fan-out is the output size, no
    * shuffle. Emits (id, chunk_idx, chunk_tokens, chunk_text). */
  def chunkForTraining(df: DataFrame, idCol: String, textCol: String,
      maxTokens: Int, overlap: Int = 0): DataFrame = {
    require(maxTokens > 0 && overlap >= 0 && overlap < maxTokens,
      "need 0 <= overlap < maxTokens")
    val stride = maxTokens - overlap
    // tokenize ONCE per row into a materialized column: embedding the
    // split inside the transform lambda re-ran the tokenizer per chunk
    // element (higher-order lambdas evaluate their body per element and
    // see no common-subexpression elimination), an O(tokens × chunks)
    // term on long documents
    val t = col("__toks")
    val nChunks = greatest(
      ceil((size(t) - lit(overlap)).cast("double") / stride).cast("int"),
      lit(1))
    df.withColumn("__toks", toks(col(textCol)))
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          c => slice(t, c * stride + 1, lit(maxTokens))))
          .as(Seq("chunk_idx", "__c")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        size(col("__c")).cast("long").as("chunk_tokens"),
        array_join(col("__c"), " ").as("chunk_text"))
  }

  // ------------------------------------------------- end-to-end pipeline

  /** The full pre-training curation pipeline in one call — the frame a
    * user feeds a tokenizer:
    *
    *   1. exact dedup (keep the smallest id per normalized text),
    *   2. benchmark decontamination (n-gram sweep vs `bench`),
    *   3. quality filter (TextAnalysis.qualityScore ≥ minQuality — the
    *      cheap pure-predicate stage runs before the gram pass),
    *   4. repetition filter (drop docs whose duplicate-3-gram instance
    *      fraction exceeds maxDup3GramFrac — the Gopher gate),
    *   5. PII scrub (typed placeholders),
    *   6. overlapping token-window chunking.
    *
    * Emits (id, chunk_idx, chunk_tokens, chunk_text). Every stage is a
    * shuffle-frugal op documented in SCALE.md. The two fan-out frames
    * (post-dedup, post-quality) are persisted: exactDeduped /
    * decontaminated / the repetition semi-join each reference their
    * input from two DAG branches, and unpersisted the upstream lineage
    * would re-execute once per branch — multiplicatively (the round-5
    * multi-branch caching finding; the unpersisted q79 plan held 400+
    * scan nodes). */
  def curateCorpus(docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String,
      minQuality: Double = 0.75, maxDup3GramFrac: Double = 0.3,
      decontamN: Int = 13, chunkTokens: Int = 512,
      chunkOverlap: Int = 64): DataFrame = {
    val deduped = Dedup.exactDeduped(docs, idCol, textCol)
      .select(col(idCol), col(textCol))
    val decon = decontaminated(deduped, idCol, textCol, bench,
      benchTextCol, decontamN)
    val quality = decon.filter(
      TextAnalysis.qualityScore(col(textCol)) >= minQuality)
    // repetition gate as a per-row FILTER: dup_3gram_frac is a function
    // of the document text alone, so the previous semi-join of a
    // separately-aggregated signal frame back onto the corpus paid two
    // exchanges (and forced persisting `quality` for its two readers)
    // for a predicate the row can answer itself. round matches the SQL
    // round(x, 6) (HALF_UP on BigDecimal.valueOf) bit for bit.
    val lowRep = udf { text: String =>
      if (text == null) true
      else {
        val toks = Tokens.lowered(text)
        val nt = toks.length
        val tot3 = math.max(nt - 2, 0)
        if (tot3 == 0) 0.0 <= maxDup3GramFrac // the old frac-0.0 row
        else {
          val counts = new java.util.HashMap[String, Array[Int]]()
          var i = 0
          while (i < nt - 2) {
            counts.computeIfAbsent(
              toks(i) + " " + toks(i + 1) + " " + toks(i + 2),
              _ => new Array[Int](1))(0) += 1
            i += 1
          }
          var dup3 = 0L
          counts.forEach((_, c) => if (c(0) >= 2) dup3 += c(0))
          val frac = java.math.BigDecimal.valueOf(dup3.toDouble / tot3)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
          frac <= maxDup3GramFrac
        }
      }
    }
    // every stage above is a filter/projection of the same pass —
    // single-consumer lineage, so the multi-branch persists the old
    // join shape needed are gone with it
    val kept = quality.filter(lowRep(col(textCol)))
    val scrubbed = kept.withColumn(textCol,
      TextAnalysis.scrubPii(col(textCol)))
    chunkForTraining(scrubbed, idCol, textCol, chunkTokens, chunkOverlap)
  }

  // ------------------------------------------------------------ sampling

  /** Engine-portable uniform in [0,1) from a key: the first 8 hex chars
    * of md5(key) as a 32-bit integer over 2³². Any SQL engine reproduces
    * the same value, so sampling decisions are deterministic and
    * auditable across engines (unlike rand(seed), whose stream is
    * engine-specific). */
  def hashUniform(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast("double") / 4294967296.0

  /** Mix-to-spec resampling: downsample groups so the OUTPUT mixture
    * matches an explicit target ratio — "2 parts en : 1 part de : …" —
    * at the maximum feasible size (the binding group keeps everything,
    * rate 1; every other group thins to match). The complement of
    * [[temperatureMixFractions]] (which SHAPES a mixture relative to
    * itself; this one hits a stated spec).
    *
    * `parts` are INTEGER ratio parts (2:1:1), not float fractions, so
    * the target is exact rational arithmetic until one double rate per
    * group: rate_g = (p_g/S)·M/n_g with M = min_g(n_g·S/p_g). Rows keep
    * via the portable [[hashUniform]] draw on the id — per-row
    * deterministic, reproducible, engine-replayable; realized shares
    * are binomial around the target (the corpus-scale contract —
    * exact quotas would need per-group ranking). Groups absent from
    * `parts` are DROPPED (a mixture spec is exhaustive by meaning);
    * a part naming a group with NO corpus rows throws — its feasible
    * size is zero, and a silently-different mixture is worse than a
    * loud failure.
    *
    * Scale shape: one #groups-row count aggregate, a one-row min, a
    * broadcast rate join, and a per-row hash filter — the corpus
    * never shuffles. */
  def matchMixture(df: DataFrame, idCol: String, groupCol: String,
      parts: Seq[(String, Long)]): DataFrame = {
    require(parts.nonEmpty, "parts must be non-empty")
    require(parts.forall(_._2 > 0), "every part must be positive")
    require(parts.map(_._1).distinct.size == parts.size,
      "duplicate group in parts")
    val s = parts.map(_._2).sum
    val pdf = df.sparkSession.createDataFrame(parts)
      .toDF("__g", "__p")
    val counts = df.groupBy(col(groupCol).cast("string").as("__g"))
      .agg(count(lit(1)).as("__n"))
    val withP = counts.join(pdf, "__g")
    // a mixture spec is exhaustive by meaning: a named part with zero
    // corpus rows can't be matched (its feasible size is 0), so fail
    // loudly instead of silently emitting a different mixture. The
    // check collects ≤ parts.size group names.
    val present = withP.select(col("__g"))
      .collect().map(_.getString(0)).toSet
    val absent = parts.map(_._1).filterNot(present)
    if (absent.nonEmpty)
      throw new IllegalArgumentException(
        "matchMixture: groups named in parts have no corpus rows: " +
          absent.sorted.mkString(", "))
    val m = withP.agg(
      min(col("__n").cast("double") * s / col("__p")).as("__m"))
    // least(1, …) absorbs float dust on the binding group
    val rates = withP.crossJoin(m)
      .select(col("__g"),
        least(lit(1.0), col("__p").cast("double") / s * col("__m") /
          col("__n")).as("__rate"))
    df.join(broadcast(rates),
        col(groupCol).cast("string") === col("__g"))
      .filter(hashUniform(col(idCol)) < col("__rate"))
      .drop("__g", "__rate")
  }

  /** Temperature-scaled mixing fractions (the multilingual-sampling
    * temperature of Arivazhagan et al. 2019, arXiv:1907.05019 §5, and
    * GPT-3's dataset weights): sampling probability p_d ∝ n_d^(1/T),
    * realized as per-stratum keep fractions against a row budget —
    * frac_d = min(1, budget·p_d / n_d). T = 1 reproduces proportional
    * sampling (every stratum keeps budget/N); T → ∞ approaches equal
    * rows per stratum. One #strata-row aggregate collected to the
    * driver; feed the result to [[stratifiedSample]]. */
  def temperatureMixFractions(df: DataFrame, strataCol: String,
      temperature: Double, budgetRows: Long): Map[String, Double] = {
    require(temperature > 0, "temperature must be positive")
    require(budgetRows > 0, "budgetRows must be positive")
    val counts = df.groupBy(col(strataCol).cast("string"))
      .count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val w = counts.map { case (d, n) =>
      d -> math.pow(n.toDouble, 1.0 / temperature) }
    val tot = w.values.sum
    w.map { case (d, wd) =>
      d -> math.min(1.0, budgetRows * (wd / tot) / counts(d)) }
  }

  /** Systematic probability-proportional-to-size sampling (PPS; Madow
    * 1949, the classic survey-sampling design): draw `n` of the corpus
    * with inclusion probability n·wᵢ/W — the weighted sample every
    * mixture pipeline needs (sample docs ∝ token count, users ∝
    * activity) — via a random-order cumulative-weight line walked with
    * a fixed stride. Rows are laid on [0, W) in the engine-portable
    * md5(id) permutation order ([[hashUniform]]'s convention), and the
    * n grid points (2k+1)·W/(2n), k = 0..n−1, select whichever row's
    * weight span they land in; a row heavier than the W/n stride can be
    * hit more than once and reports its multiplicity in `copies`.
    *
    * EVERY selection decision is exact 64-bit integer arithmetic — the
    * grid-point-in-span test cross-multiplies to j·W ∈ [2n·cum_before,
    * 2n·cum_after) over odd j — so any engine replays the identical
    * sample bit-for-bit: no `pow`/`ln` of the Efraimidis–Spirakis key
    * (whose last-ulp rounding differs across libm implementations), no
    * rand() stream. Requires 2n·W < 2⁶³ (checked loudly: 10¹⁴ total
    * tokens leave room for n up to ~46k; shard the corpus first if a
    * single draw needs more).
    *
    * Scale shape: the cumulative line is the [[packSequences]]
    * DISTRIBUTED PREFIX SUM — range-repartition on the permutation
    * key, per-partition subtotals (one P-row collect), partition-local
    * running sums — never a global single-task window; selection is
    * then a pure expression. Weights must be non-negative integers
    * (checked in the same subtotal pass); zero-weight rows are never
    * selected. Output: the selected rows (original columns) + `copies`. */
  def ppsSystematicSample(df: DataFrame, idCol: String,
      weightCol: String, n: Long): DataFrame = {
    require(n > 0, "sample size n must be positive")
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val cols = df.columns.toSeq
    val ranged = df
      .withColumn("__u", md5(col(idCol).cast("string")))
      .withColumn("__w", col(weightCol).cast("long"))
      .repartitionByRange(col("__u"), col(idCol))
      .sortWithinPartitions(col("__u"), col(idCol))
      .withColumn("__pid", spark_partition_id())
    ranged.persist()
    // the same subtotal pass audits the weights: a null weight would
    // silently never be selected (and a partition of only nulls would
    // crash the totals decode), and a fractional weight would silently
    // truncate through cast('long') — both are caller mistakes the
    // exact-arithmetic contract must refuse loudly, like negatives
    val audited = ranged.groupBy("__pid")
      .agg(coalesce(sum(col("__w")), lit(0L)).as("__t"),
        coalesce(min(col("__w")), lit(0L)).as("__m"),
        sum(when(col("__w").isNull, 1L).otherwise(0L)).as("__nulls"),
        sum(when(col("__w").isNotNull &&
          col(weightCol).cast("double") =!= col("__w").cast("double"),
          1L).otherwise(0L)).as("__frac"))
      .as[(Int, Long, Long, Long, Long)].collect().sortBy(_._1)
    val nullW = audited.map(_._4).sum
    require(nullW == 0L,
      s"ppsSystematicSample: $nullW null (or non-numeric) weights in " +
        s"$weightCol — a null row can never be selected; filter or " +
        "impute explicitly")
    val fracW = audited.map(_._5).sum
    require(fracW == 0L,
      s"ppsSystematicSample: $fracW weights in $weightCol change value " +
        "under cast to long — fractional weights would truncate " +
        "silently; pre-scale to integers explicitly")
    val totals = audited.map(t => (t._1, t._2, t._3))
    require(totals.forall(_._3 >= 0L),
      s"ppsSystematicSample: negative weight in $weightCol")
    val grandTotal = totals.map(_._2).sum
    require(grandTotal > 0L, "ppsSystematicSample: total weight is zero")
    require(grandTotal <= Long.MaxValue / (2L * n),
      s"ppsSystematicSample: 2n*W overflows 64-bit (n=$n, W=$grandTotal)" +
        " — shard the corpus and draw per shard")
    val bases = totals
      .scanLeft((0, 0L)) { case ((_, acc), (pid, t, _)) => (pid, acc + t) }
      .init.zip(totals)
      .map { case ((_, base), (pid, _, _)) => (pid, base) }
    val baseDf = broadcast(bases.toSeq.toDF("__pid", "__base"))
    val w = Window.partitionBy("__pid").orderBy(col("__u"), col(idCol))
    // 64-bit INTEGRAL division throughout (`div`): `/` on longs is
    // floating division in Spark SQL and loses exactness past 2^53.
    // f(x) = #odd integers in [1, x] = (x+1) div 2; operands here are
    // ≥ -1, where truncating div and floor div agree on f.
    val out = ranged
      .join(baseDf, "__pid")
      .withColumn("__ca",
        col("__base") + sum(col("__w")).over(w))
      .withColumn("__A", (col("__ca") - col("__w")) * lit(2L * n))
      .withColumn("__B", col("__ca") * lit(2L * n))
      // lo = ceil(A/W); hi = ceil(B/W) - 1 = (B-1) div W for B ≥ 1
      .withColumn("__lo", expr(s"(__A + $grandTotal - 1) div $grandTotal"))
      .withColumn("__hi", expr(s"(__B - 1) div $grandTotal"))
      .withColumn("copies",
        expr("(__hi + 1) div 2 - __lo div 2"))
      .filter(col("copies") >= 1L)
      .select(cols.map(col) :+ col("copies"): _*)
    out
  }

  /** Deterministic stratified sampling for domain mixing: keep a row iff
    * hashUniform(key) < fraction(stratum). Strata absent from the map
    * keep `defaultFraction` (0 drops them). Pure filter expression — no
    * shuffle, pushes past column pruning like any predicate. */
  def stratifiedSample(df: DataFrame, strataCol: String, keyCol: String,
      fractions: Map[String, Double],
      defaultFraction: Double = 0.0): DataFrame = {
    val frac = fractions.foldLeft(lit(defaultFraction)) {
      case (acc, (stratum, f)) =>
        when(col(strataCol) === stratum, lit(f)).otherwise(acc)
    }
    df.filter(hashUniform(col(keyCol)) < frac)
  }

  /** Concatenate-and-split sequence packing (the GPT-pretraining layout):
    * the corpus is one virtual token stream in ascending `idCol` order,
    * cut into fixed `contextLen` windows. Emits per doc its global
    * `start_off`set in the stream, the window its first token lands in
    * (`sample_id`) and the window its last token lands in
    * (`end_sample_id` — a doc may straddle window boundaries).
    *
    * The global running offset is a DISTRIBUTED PREFIX SUM, not a global
    * window: `Window.orderBy` with no partitionBy funnels the whole
    * corpus through ONE task — the classic packing scale trap. Instead:
    * range-repartition by id (sorted partitions), per-partition token
    * subtotals (one P-row aggregate collected to the driver — O(#
    * partitions), never O(rows)), prefix-sum the subtotals, then each
    * partition adds its base offset to a partition-local running sum.
    * Output is independent of the partition count or boundaries: base +
    * local cumsum IS the global prefix sum under range ordering. */
  def packSequences(df: DataFrame, idCol: String, tokenCol: String,
      contextLen: Int): DataFrame = {
    require(contextLen > 0, "contextLen must be positive")
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val ranged = df
      .select(col(idCol), col(tokenCol).cast("long").as("__tok"))
      .repartitionByRange(col(idCol))
      .sortWithinPartitions(idCol)
      .withColumn("__pid", spark_partition_id())
    ranged.persist()
    val totals = ranged.groupBy("__pid")
      .agg(sum(col("__tok")).as("__t"))
      .as[(Int, Long)].collect().sortBy(_._1)
    val bases = totals
      .scanLeft((0, 0L)) { case ((_, acc), (pid, t)) => (pid, acc + t) }
      .init.zip(totals)
      .map { case ((_, base), (pid, _)) => (pid, base) }
    val baseDf = broadcast(bases.toSeq.toDF("__pid", "__base"))
    val w = Window.partitionBy("__pid").orderBy(idCol)
    val out = ranged
      .join(baseDf, "__pid")
      .withColumn("start_off",
        col("__base") + sum(col("__tok")).over(w) - col("__tok"))
      .withColumn("sample_id", floor(col("start_off") / contextLen))
      .withColumn("end_sample_id",
        floor((col("start_off") + greatest(col("__tok"), lit(1L)) - 1)
          / contextLen))
      .select(col(idCol), col("__tok").as("tokens"), col("start_off"),
        col("sample_id"), col("end_sample_id"))
    out
  }

  // --------------------------------------------------------- shard export

  /** Deterministic shard of a key: the portable md5-prefix hash mod
    * `shards` (same engine-independent convention as [[hashUniform]]) —
    * any engine recomputes the exact layout, so a resumed or re-run
    * export never reshuffles docs between shards. */
  def shardOf(key: Column, shards: Int): Column = {
    require(shards > 0, "shards must be positive")
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast("long") % shards
  }

  /** Per-shard manifest — (shard, n_docs, tok_sum, min/max id): the
    * export's integrity record, computable without writing (and by any
    * other engine, for verification after transport). One hash shuffle. */
  def shardManifest(df: DataFrame, idCol: String, tokenCol: String,
      shards: Int): DataFrame =
    df.withColumn("shard", shardOf(col(idCol), shards))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col(tokenCol).cast("long")).as("tok_sum"),
        min(col(idCol)).as("min_id"), max(col(idCol)).as("max_id"))

  /** Physical export: one directory per shard (`shard=K/`), each shard's
    * rows id-sorted within its files. Co-locating on the shard key
    * before the write avoids the tiny-file explosion of every task
    * touching every shard; `maxRecordsPerFile` bounds file size for the
    * training loader.
    *
    * `writersPerShard` controls write parallelism WITHIN a shard: at
    * 100 TB / 1024 shards, one task per shard means ~100 GB per writer —
    * a deterministic id-hash salt splits each shard across that many
    * tasks while `partitionBy` keeps the on-disk `shard=K/` layout
    * identical (each writer emits its own id-sorted files into the
    * shard's directory; readers see the same directory contract, just
    * more files). The salt is data-defined (xxhash64 of the id), so a
    * re-run produces the same file contents. Default 1 preserves the
    * one-sorted-run-per-shard layout for small exports. */
  def writeShards(df: DataFrame, idCol: String, outDir: String,
      shards: Int, maxRecordsPerFile: Long = 1000000L,
      writersPerShard: Int = 1): Unit = {
    require(writersPerShard > 0, "writersPerShard must be positive")
    val sharded = df.withColumn("shard", shardOf(col(idCol), shards))
    // Range-partition on a DENSE writer index (shard × writers + salt):
    // hash-partitioning (shard, salt) into shards×writers partitions
    // leaves ~1/e of writer slots empty and stacks 3-4 groups on hot
    // tasks (balls-in-bins), so effective parallelism lands well under
    // writersPerShard; range partitioning over the 0..n-1 index gives
    // ~one group per task. The explicit partition count also keeps AQE
    // from coalescing small shuffles back into few tasks.
    val arranged =
      if (writersPerShard == 1) sharded.repartition(col("shard"))
      else sharded
        .withColumn("__writer",
          col("shard") * writersPerShard +
            pmod(xxhash64(col(idCol)), lit(writersPerShard)))
        .repartitionByRange(shards * writersPerShard, col("__writer"))
        .drop("__writer")
    arranged
      .sortWithinPartitions(idCol)
      .write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("shard")
      .mode("overwrite")
      .parquet(outDir)
  }

  /** Persist a corpus as a BUCKETED table (hash-bucketed + sorted on
    * `idCol`): the storage-layout move that deletes the shuffle from
    * every subsequent id-keyed join. A curation pipeline joins on the
    * document id over and over — keep-lists, dedup verdicts, quality
    * scores, decontamination flags — and at 100 TB each of those joins
    * is a full corpus shuffle UNLESS both sides are co-bucketed: two
    * tables bucketed the same way sort-merge join with ZERO exchanges
    * (Spark reads matching buckets pairwise). `CurationSpec` pins
    * exactly that: the joined plan of two co-bucketed tables contains
    * no shuffle exchange.
    *
    * Bucketing requires the table catalog (`saveAsTable` — plain
    * `.parquet(path)` cannot record bucket metadata); the table lands
    * in the session warehouse under `name`. */
  def writeBucketed(df: DataFrame, idCol: String, name: String,
      buckets: Int): Unit = {
    require(buckets > 0, "buckets must be positive")
    val spark = df.sparkSession
    // the in-memory catalog forgets tables across sessions but the
    // warehouse directory persists — a stale location from a previous
    // run fails the CREATE with LOCATION_ALREADY_EXISTS, so clear both
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      name.toLowerCase(java.util.Locale.ROOT))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    // one FILE per bucket: Spark's scan only trusts (and reports) the
    // written sort order when each bucket is a single file — multiple
    // writer tasks per bucket would leave per-file runs, and every
    // downstream sort-merge join would re-Sort, wasting the sortBy.
    // The repartition shuffles once AT WRITE TIME, the cost the whole
    // design pays once to delete sorts+shuffles from every reader.
    df.repartition(buckets, org.apache.spark.sql.functions.col(idCol))
      .write
      .bucketBy(buckets, idCol)
      .sortBy(idCol)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(name)
  }

  /** Co-located curation-artifact apply: persists the corpus and each
    * artifact frame (keep-lists, dedup verdicts, quality scores …)
    * through [[writeBucketed]] and returns the id-keyed multi-join
    * read back THROUGH the bucketed tables — every join a sort-merge
    * over matching bucket pairs with ZERO shuffle exchanges and zero
    * sorts (the tables are bucket-sorted on `idCol` at write time).
    *
    * This is the storage-layout move for 100 TB: the corpus crosses
    * the wire once, at write time, instead of once per artifact join —
    * and the written tables amortize across every LATER id-keyed
    * consumer, which is where the real win lives. Joins are hinted
    * MERGE deliberately: the artifact side of a corpus-scale apply is
    * itself corpus-sized, so the broadcast plan the optimizer would
    * pick at toy scale is exactly the plan bucketing exists to
    * replace.
    *
    * `artifacts` is (suffix, frame, joinType) — the table lands as
    * `{namePrefix}_{suffix}`, joined in order on `idCol`. */
  def bucketedApply(corpus: DataFrame, idCol: String,
      artifacts: Seq[(String, DataFrame, String)], namePrefix: String,
      buckets: Int): DataFrame = {
    require(artifacts.nonEmpty, "bucketedApply needs >= 1 artifact")
    val spark = corpus.sparkSession
    writeBucketed(corpus, idCol, s"${namePrefix}_corpus", buckets)
    artifacts.foreach { case (suffix, df, _) =>
      writeBucketed(df, idCol, s"${namePrefix}_$suffix", buckets) }
    artifacts.foldLeft(spark.table(s"${namePrefix}_corpus")) {
      case (acc, (suffix, _, joinType)) =>
        acc.join(spark.table(s"${namePrefix}_$suffix").hint("merge"),
          Seq(idCol), joinType)
    }
  }

  /** Domain balancing: keep at most `cap` rows per domain, by
    * (priority DESC, id ASC) — the "no single domain dominates the
    * mixture" curation rule (the C4/RefinedWeb per-host cap, and the
    * deterministic sibling of [[temperatureMixFractions]]: where
    * temperature mixing keeps a random fraction, the cap keeps the
    * BEST `cap` under an explicit priority such as a quality score).
    *
    * Scale shape: one hash aggregation keyed on the domain whose
    * per-group state is Spark's bounded `collect_top_k`
    * ([[org.apache.spark.sql.graftbridge.ColumnBridge.smallestN]]: ≤ cap
    * (priority, id) pairs per partial, combined before the exchange) —
    * never a per-domain `row_number` window, which would gather a hot
    * domain's full row set into one task. Domains are FEW and HOT by
    * nature (a web corpus has ~10⁶ hosts but the top host holds
    * ~10⁻² of all docs), exactly the skew the bounded state absorbs.
    * The kept (id, priority) pairs then semi-join back to the corpus
    * to re-attach full rows — ids-only through the shuffle, text
    * never moves.
    *
    * Ties on priority break on ascending id in the id type's native
    * order (deterministic across engines and partitionings). Priority
    * must be non-null and finite; |p| < 2^53 keeps the double negation
    * exact. */
  def domainCap(df: DataFrame, domainCol: String, priorityCol: String,
      idCol: String, cap: Int): DataFrame = {
    require(cap > 0, "cap must be positive")
    // priority DESC == negated-priority ASC, which is smallestN's
    // order; ties fall through to ascending id in the struct order
    val kept = df
      .select(col(domainCol), col(priorityCol), col(idCol))
      .groupBy(col(domainCol))
      .agg(ColumnBridge.smallestN(struct(
        lit(0.0) - col(priorityCol).cast("double"),
        col(idCol).as("id")), cap).as("__xs"))
      .select(col(domainCol).as("__keep_dom"),
        explode(col("__xs")).as("__x"))
      .select(col("__keep_dom"), col("__x.id").as("__keep_id"))
    // semi-join on (domain, id), not id alone: ids only need to be
    // unique WITHIN a domain — a per-domain sequence id reused across
    // domains must not resurrect rows another domain's ranking rejected
    df.join(kept,
      col(domainCol) === col("__keep_dom") &&
        col(idCol) === col("__keep_id"), "left_semi")
  }

  /** Deterministic stratified sample: keep exactly `n` rows per
    * stratum (fewer when the stratum is smaller), chosen by the
    * md5-of-id order — the engine-portable "random but reproducible"
    * draw (any engine computing md5(CAST(id AS VARCHAR)) agrees on the
    * sample, so an oracle replays it with a plain QUALIFY row_number).
    * Ids must be non-negative integral (the fixed-width id suffix that
    * makes the tie-break total).
    *
    * Scale shape: one hash aggregation keyed on the strata whose
    * per-group state is Spark's bounded `collect_top_k` (≤ n codes per
    * partial, combined before the exchange) — never a per-stratum
    * row_number window, which would gather a hot stratum's full row
    * set into one task ([[domainCap]]'s argument). The sample key is
    * md5 ‖ zero-padded id, so code order IS (md5, id) order. */
  def stratifiedSample(df: DataFrame, strataCols: Seq[String],
      idCol: String, n: Int): DataFrame = {
    require(strataCols.nonEmpty, "need at least one stratum column")
    require(n > 0, "n must be positive")
    val code = orderCode(idCol)
    val kept = df
      .select(strataCols.map(col) :+ code.as("__code"): _*)
      .groupBy(strataCols.map(col): _*)
      .agg(ColumnBridge.smallestN(col("__code"), n).as("__xs"))
      .select(strataCols.zipWithIndex.map { case (c, i) =>
        col(c).as(s"__ks_$i") } :+ explode(col("__xs")).as("__x"): _*)
      .select((strataCols.indices.map(i => col(s"__ks_$i")) :+
        substring(col("__x"), 33, 20).cast("long").as("__keep_id"))
        : _*)
    val cond = strataCols.zipWithIndex.map { case (c, i) =>
      col(c) <=> col(s"__ks_$i") }.reduce(_ && _) &&
      col(idCol).cast("long") === col("__keep_id")
    df.join(kept, cond, "left_semi")
  }

  /** The reproducible md5-of-id walk order shared by
    * [[stratifiedSample]] and [[tokenBudgetCut]]: md5 ‖ zero-padded
    * id, so lexicographic code order IS (md5, id) order. Ids must be
    * non-negative integral (the fixed-width suffix's contract). */
  private def orderCode(idCol: String): org.apache.spark.sql.Column =
    concat(md5(col(idCol).cast("string")),
      lpad(col(idCol).cast("string"), 20, "0"))

  /** Token-budget corpus cut: walk documents in md5-of-id order (the
    * [[stratifiedSample]] reproducible draw) and keep each doc while
    * the RUNNING token total stays ≤ `budget` — "give me a uniform
    * random ~N-token subcorpus, deterministically" (the training-mix
    * sizing move; an oracle replays it as one ordered window sum).
    * Negative token counts clamp to 0 like nulls (a doc can't refund
    * budget — a negative would make the kept set non-contiguous in
    * the walk). Returns (id, n_tokens, cum_tokens) for the kept
    * prefix; semi-join back for the documents.
    *
    * Scale shape: the global running sum NEVER runs in one task, and
    * the corpus crosses the wire ONCE: range-repartition on the order
    * code, per-partition totals → O(#partitions) driver-side base
    * offsets, then a sequential mapPartitions scan adds each
    * partition's base — no window, so no second exchange (a
    * `Window.partitionBy(pid)` would not trust the range partitioning
    * and re-shuffle), and duplicate order codes accumulate one at a
    * time exactly like the definitional walk. */
  def tokenBudgetCut(df: DataFrame, idCol: String, tokensCol: String,
      budget: Long): DataFrame =
    tokenBudgetCutReleasable(df, idCol, tokensCol, budget)._1

  /** [[tokenBudgetCut]] plus a release handle that unpersists the
    * internal range-partitioned cache (the Releasable convention) —
    * long-lived services call it after the consuming action; calling
    * earlier risks re-sampled range boundaries detaching rows from
    * the collected base offsets. */
  def tokenBudgetCutReleasable(df: DataFrame, idCol: String,
      tokensCol: String, budget: Long): (DataFrame, () => Unit) = {
    require(budget > 0, "budget must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val keyed = df
      .select(col(idCol).cast("long").as("__id"),
        greatest(lit(0L),
          coalesce(col(tokensCol).cast("long"), lit(0L))).as("__n"),
        orderCode(idCol).as("__code"))
      .repartitionByRange(col("__code"))
      .sortWithinPartitions("__code")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-partition token totals → exclusive-prefix base offsets
    val totals = keyed
      .select(spark_partition_id().as("__pid"), col("__n"))
      .groupBy("__pid").agg(sum(col("__n")).as("__t"))
      .as[(Int, Long)].collect().sortBy(_._1).toSeq
    val bases: Map[Int, Long] = totals
      .scanLeft((0, 0L)) { case ((_, acc), (pid, t)) => (pid, acc + t) }
      .init.zip(totals)
      .map { case ((_, base), (pid, _)) => (pid, base) }.toMap
    val bc = spark.sparkContext.broadcast(bases)
    // keyed stays persisted until the caller's action (the Intervals
    // caveat: unpersisting first would re-sample the range boundaries
    // and detach rows from the collected bases)
    val out = keyed.as[(Long, Long, String)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var cum = bc.value.getOrElse(pid, 0L)
        it.map { case (id, n, _) =>
          cum += n
          (id, n, cum)
        }
      }
      .toDF(idCol, "n_tokens", "cum_tokens")
      .filter(col("cum_tokens") <= budget)
    (out, () => {
      keyed.unpersist(blocking = false)
      bc.destroy()
      ()
    })
  }

  /** Hash-based train/val/test split assignment: each id lands in the
    * split whose cumulative-fraction interval contains the first 8 hex
    * digits of md5(id ‖ salt) — deterministic, engine-portable
    * (lowercase hex sorts numerically, so the oracle is a string CASE
    * compare), stable under corpus growth (a doc's split never changes
    * when other docs arrive — the property a random-number split
    * lacks), and re-drawable via `salt`. Fractions must sum to 1.
    *
    * Scale shape: pure per-row expression work — zero shuffle, rides
    * the scan. */
  def assignSplits(df: DataFrame, idCol: String,
      splits: Seq[(String, Double)], salt: String = "",
      outCol: String = "split"): DataFrame = {
    require(splits.nonEmpty, "need at least one split")
    require(splits.forall(_._2 > 0), "fractions must be positive")
    val total = splits.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-9,
      s"fractions must sum to 1, got $total")
    val code = substring(
      md5(concat(col(idCol).cast("string"), lit(salt))), 1, 8)
    // cumulative thresholds as 8-hex-digit literals; the LAST split
    // takes everything below 'ffffffff'+1 so float dust can't leak
    val cums = splits.scanLeft(0.0)(_ + _._2).tail
    val bounds = cums.init.map(f => f"${(f * (1L << 32)).toLong}%08x")
    val assigned = splits.init.zip(bounds).foldLeft(
      Option.empty[Column]) { case (acc, ((name, _), b)) =>
        val cond = code < lit(b)
        Some(acc match {
          case None => when(cond, name)
          case Some(w) => w.when(cond, name)
        })
    } match {
      case Some(w) => w.otherwise(splits.last._1)
      case None => lit(splits.last._1)
    }
    df.withColumn(outCol, assigned)
  }

  /** Per-group percentile rank and cumulative distribution of a value
    * column — the "keep the top X% by quality score within each
    * language" curation filter, computed WITHOUT a per-group row
    * window: `percent_rank()` over a raw corpus partitions one task
    * per group (languages are few and hot — the classic hot-key
    * window), so the ranks here derive from the winsorize cell
    * ladder instead and broadcast back onto the scan. Definitions
    * match SQL exactly — pct_rank = (rank−1)/(n−1) with rank =
    * 1 + count(values strictly below), cume_dist = count(≤ v)/n —
    * so an engine's window spelling is a valid oracle.
    *
    * Scale shape: distinct-value cells per group (quantize first on
    * continuous scores — the ksDrift contract), two cell windows, one
    * broadcast join; corpus rows shuffle zero times. Null values are
    * excluded. A single-row group answers pct_rank 0.
    *
    * The ladder is BROADCAST, so an unquantized continuous score
    * would silently build a corpus-sized broadcast; the same bound
    * audit [[graft.analysis.Normalize.quantileNormalize]] performs
    * runs here first (cell-sized jobs over the persisted cells) and
    * throws loudly instead. */
  def percentileRank(df: DataFrame, groupCols: Seq[String],
      valueCol: String, maxDistinct: Long = 4096L,
      maxGlobalDistinct: Long = 65536L): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val keyCs = groupCols.map(col)
    val v = col(valueCol).cast("double")
    val cells = df.filter(v.isNotNull)
      .groupBy(keyCs :+ v.as("__cv"): _*)
      .agg(count(lit(1)).as("__cn"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // bound audit BEFORE broadcasting: the hottest group drives the
    // per-group windows, the global cell count drives the broadcast
    // itself — an unbounded continuous score fails loud, not as a
    // driver OOM inside the broadcast build
    val hottest = cells.groupBy(keyCs: _*)
      .agg(count(lit(1)).as("__d"))
      .agg(max(col("__d"))).collect().head
    val hot = if (hottest.isNullAt(0)) 0L else hottest.getLong(0)
    val glob = cells.count()
    if (hot > maxDistinct || glob > maxGlobalDistinct) {
      cells.unpersist(blocking = false)
      val parts = Seq(
        if (hot > maxDistinct)
          Some(s"hottest group has $hot distinct values " +
            s"(maxDistinct = $maxDistinct)")
        else None,
        if (glob > maxGlobalDistinct)
          Some(s"the broadcast ladder has $glob cells " +
            s"(maxGlobalDistinct = $maxGlobalDistinct)")
        else None).flatten
      throw new IllegalArgumentException(
        s"percentileRank: ${parts.mkString(" and ")} — " +
          "quantize the score first, or raise the bound explicitly")
    }
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCs: _*).orderBy(col("__cv"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCs: _*)
    val ladder = cells
      .withColumn("__cum", sum(col("__cn")).over(wOrd))
      .withColumn("__tot", sum(col("__cn")).over(wAll))
      .select(keyCs.zipWithIndex.map { case (c, i) =>
        c.as(s"__k$i") } ++ Seq(col("__cv"),
        when(col("__tot") === 1, lit(0.0))
          .otherwise(round((col("__cum") - col("__cn"))
            .cast("double") / (col("__tot") - 1), 6)).as("pct_rank"),
        round(col("__cum").cast("double") / col("__tot"), 6)
          .as("cume_dist")): _*)
    // null-safe key equality: a NULL group is its own partition (the
    // q156 convention — SQL's PARTITION BY keeps it too); a plain
    // equi-join would silently drop every null-keyed row
    val base = df.filter(v.isNotNull).withColumn("__v", v)
    val cond = groupCols.zipWithIndex.map { case (k, i) =>
      base(k) <=> ladder(s"__k$i") }
      .reduce(_ && _) && (base("__v") === ladder("__cv"))
    base.join(broadcast(ladder), cond)
      .drop("__v" +: "__cv" +:
        groupCols.indices.map(i => s"__k$i"): _*)
  }

  /** Cross-split contamination check — the pipeline-integrity audit
    * that composes [[assignSplits]] with exact dedup: any EXACT
    * duplicate group (md5 of the normalized text) spanning more than
    * one split is train/test leakage the split assignment cannot see
    * (splits hash the ID; duplicates differ in id, not content).
    * Returns one row per leaking content group: the content hash,
    * total copies, distinct splits touched, and the smallest id for
    * triage. Empty result = clean splits.
    *
    * Scale shape: one hash aggregate keyed on (content md5) over
    * (hash, split, id) rows — text collapses to its digest map-side;
    * no join, no window. */
  def splitLeakage(df: DataFrame, idCol: String, textCol: String,
      splitCol: String): DataFrame =
    // null text is NOT duplicate content: md5(null) would collapse
    // every null-text doc into one phantom "leaking" group
    df.filter(col(textCol).isNotNull)
      .select(md5(col(textCol).cast("string")).as("content_md5"),
        col(splitCol).cast("string").as("split"),
        col(idCol).cast("long").as("__id"))
      .groupBy(col("content_md5"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("split")).as("n_splits"),
        min(col("__id")).as("min_id"))
      .filter(col("n_splits") > 1)

  /** The FIX to [[splitLeakage]]'s finding: force every member of an
    * exact-duplicate content group into ONE split — the split of the
    * group's smallest id (deterministic, growth-stable: new copies
    * join the incumbent's split instead of re-rolling the group). A
    * doc with unique (or null) content keeps its split. Returns every
    * input row: (id, split, split_repaired, moved).
    *
    * Scale shape: text collapses to md5 map-side; one content-keyed
    * min-struct aggregate picks the canonical (id, split); one join
    * back on the digest. The text column never crosses the wire. */
  def repairSplitLeakage(df: DataFrame, idCol: String,
      textCol: String, splitCol: String): DataFrame = {
    val keyed = df.select(col(idCol), col(splitCol),
      md5(col(textCol).cast("string")).as("__ck"))
    val canon = keyed.filter(col("__ck").isNotNull)
      .groupBy(col("__ck"))
      .agg(min(struct(col(idCol), col(splitCol))).as("__w"))
      .select(col("__ck"),
        col("__w").getField(splitCol).as("__canon"))
    keyed.join(canon, Seq("__ck"), "left")
      .select(col(idCol), col(splitCol),
        coalesce(col("__canon"), col(splitCol)).as("split_repaired"),
        (coalesce(col("__canon"), col(splitCol)) =!= col(splitCol))
          .as("moved"))
  }

  // --------------------------------------------------- C4 page cleaning

  /** The six boilerplate-notice substrings C4 strips at the line level
    * (Raffel et al., arXiv:1910.10683 §2.2 — the "cookie policy"
    * family). */
  val C4PolicyPhrases: Seq[String] = Seq(
    "terms of use", "privacy policy", "cookie policy",
    "uses cookies", "use of cookies", "use cookies")

  /** C4's line- and page-level cleaning rules (Raffel et al.,
    * arXiv:1910.10683 §2.2) as ONE expression-only pass: every rule is
    * an array/string expression over the page's line list, so the whole
    * cleaner is a projection + filter — no shuffle, no UDF, fully
    * inside whole-stage codegen, and it pushes down past column pruning
    * like any predicate. At 100 TB this is the cheapest possible shape:
    * a single scan, embarrassingly parallel.
    *
    * Line rules — a line survives iff ALL hold:
    *   - its trimmed text ends in a terminal punctuation mark
    *     (`.`, `!`, `?`, or a closing double quote — the paper's set);
    *   - it has at least `minWordsPerLine` whitespace words;
    *   - it does not mention "javascript" (case-insensitive);
    *   - it contains none of [[C4PolicyPhrases]].
    *
    * Page rules — a page survives iff ALL hold:
    *   - the RAW page (like the paper, which inspects the page before
    *     line filtering) contains no "lorem ipsum" and no `{`;
    *   - no raw-page token is in `badWords` (the paper uses a public
    *     blocklist; caller-supplied here, empty = rule off);
    *   - at least `minSentences` sentences REMAIN after line filtering,
    *     where a sentence is a `[.!?]` occurrence in the kept text (a
    *     deterministic, engine-portable stand-in for the paper's
    *     sentence splitter).
    *
    * Emits survivors only: (id, text_clean, n_lines, n_lines_kept,
    * n_sentences). Three-sentence-span dedup, the one §2.2 rule not
    * here, is corpus-global — that is [[Dedup.duplicateSpans]]. */
  def c4Clean(df: DataFrame, idCol: String, textCol: String,
      minWordsPerLine: Int = 3, minSentences: Int = 5,
      badWords: Seq[String] = Seq.empty): DataFrame = {
    require(minWordsPerLine > 0, "minWordsPerLine must be positive")
    require(minSentences >= 0, "minSentences must be non-negative")
    // normalize CR/CRLF to LF up front: web text is exactly where CRLF
    // shows up, and a trailing \r would make the Java-regex '$' in the
    // punctuation rule diverge from RE2-style end-of-text engines
    val raw = regexp_replace(col(textCol), "\r\n?", "\n")
    val rawLow = lower(raw)
    val lines = split(raw, "\n")
    val kept = filter(lines, l => {
      val t = trim(l)
      val tl = lower(t)
      C4PolicyPhrases.map(p => !tl.contains(p))
        .foldLeft(
          t.rlike("[.!?\"]$") &&
            size(split(t, "\\s+")) >= minWordsPerLine &&
            !tl.contains("javascript"))(_ && _)
    })
    val cleanText = array_join(kept, "\n")
    val nSent = size(split(cleanText, "[.!?]")) - 1
    val pageOk = {
      val base = !rawLow.contains("lorem ipsum") && !raw.contains("{")
      if (badWords.isEmpty) base
      else base && !arrays_overlap(
        toks(raw),
        array(badWords.map(w => lit(w.toLowerCase(
          java.util.Locale.ROOT))): _*))
    }
    df.select(col(idCol), raw, lines.as("__lines"), kept.as("__kept"),
        cleanText.as("text_clean"), nSent.as("__ns"), pageOk.as("__ok"))
      .filter(col("__ok") && col("__ns") >= minSentences)
      .select(col(idCol), col("text_clean"),
        size(col("__lines")).cast("long").as("n_lines"),
        size(col("__kept")).cast("long").as("n_lines_kept"),
        col("__ns").cast("long").as("n_sentences"))
  }

  /** The words that must appear for a page to count as running English
    * prose — Gopher's "stop word" presence rule (Rae et al. 2021,
    * A1.1: at least two of these). */
  val GopherRequiredWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher document-level quality rules (Rae et al. 2107.14168,
    * Appendix A1.1 — the MassiveText filter; [[c4Clean]]'s doc-level
    * complement, and the ruleset C4's line rules don't cover):
    *
    *   1. word count within [minWords, maxWords]
    *   2. mean word length within [minMeanWordLen, maxMeanWordLen]
    *   3. symbol-to-word ratio (`#` or `...`) ≤ maxSymbolRatio
    *   4. ≤ maxBulletFrac of lines start with a bullet
    *   5. ≤ maxEllipsisFrac of lines end with an ellipsis
    *   6. ≥ minAlphaWordFrac of words contain an alphabetic character
    *   7. ≥ minRequiredHits distinct [[GopherRequiredWords]] present
    *
    * Zero shuffle — every rule is an array/string expression inside
    * codegen (the [[c4Clean]] scale shape). Output: one row per doc
    * with the measured stats, one boolean per rule, and `keep` = all
    * rules pass — the audit frame; callers filter on `keep` for the
    * cleaned corpus. Ratios round 6dp AFTER the comparisons, so the
    * flags never disagree with the printed stats' unrounded truth. */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
      maxEllipsisFrac: Double = 0.3, minAlphaWordFrac: Double = 0.8,
      minRequiredHits: Int = 2): DataFrame = {
    val raw = regexp_replace(col(textCol), "\r\n?", "\n")
    val words = filter(split(trim(raw), "\\s+"), w => w =!= "")
    val nWords = size(words).cast("double")
    val nLines0 = filter(split(raw, "\n"), l => trim(l) =!= "")
    val nLines = size(nLines0).cast("double")
    val meanLen = when(nWords === 0, 0.0).otherwise(
      aggregate(words, lit(0L), (a, w) => a + length(w)).cast("double")
        / nWords)
    val hashes = (length(raw) -
      length(regexp_replace(raw, "#", ""))).cast("double")
    val ellipses = ((length(raw) -
      length(regexp_replace(raw, "\\.\\.\\.", ""))) / 3).cast("double")
    val symbolRatio = when(nWords === 0, 0.0)
      .otherwise((hashes + ellipses) / nWords)
    val bulletFrac = when(nLines === 0, 0.0).otherwise(
      size(filter(nLines0, l =>
        trim(l).rlike("^[-*•‣▪]"))).cast("double")
        / nLines)
    val ellipsisFrac = when(nLines === 0, 0.0).otherwise(
      size(filter(nLines0, l => trim(l).endsWith("...")))
        .cast("double") / nLines)
    val alphaFrac = when(nWords === 0, 0.0).otherwise(
      size(filter(words, w => w.rlike("[A-Za-z]"))).cast("double")
        / nWords)
    val reqHits = size(filter(
      array(GopherRequiredWords.map(lit): _*),
      w => array_contains(
        transform(words, x => lower(x)), w)))
    val rWords = col("n_words") >= minWords && col("n_words") <= maxWords
    val rMean = col("mean_word_len") >= minMeanWordLen &&
      col("mean_word_len") <= maxMeanWordLen
    val rSym = col("symbol_ratio") <= maxSymbolRatio
    val rBullet = col("bullet_frac") <= maxBulletFrac
    val rEll = col("ellipsis_frac") <= maxEllipsisFrac
    val rAlpha = col("alpha_word_frac") >= minAlphaWordFrac
    val rReq = col("required_hits") >= minRequiredHits
    df.select(col(idCol),
        size(words).cast("long").as("n_words"),
        meanLen.as("mean_word_len"),
        symbolRatio.as("symbol_ratio"),
        bulletFrac.as("bullet_frac"),
        ellipsisFrac.as("ellipsis_frac"),
        alphaFrac.as("alpha_word_frac"),
        reqHits.cast("long").as("required_hits"))
      .withColumn("r_word_count", rWords)
      .withColumn("r_mean_word_len", rMean)
      .withColumn("r_symbol_ratio", rSym)
      .withColumn("r_bullet_lines", rBullet)
      .withColumn("r_ellipsis_lines", rEll)
      .withColumn("r_alpha_words", rAlpha)
      .withColumn("r_required_words", rReq)
      .withColumn("keep", rWords && rMean && rSym && rBullet && rEll &&
        rAlpha && rReq)
      .withColumn("mean_word_len", round(col("mean_word_len"), 6))
      .withColumn("symbol_ratio", round(col("symbol_ratio"), 6))
      .withColumn("bullet_frac", round(col("bullet_frac"), 6))
      .withColumn("ellipsis_frac", round(col("ellipsis_frac"), 6))
      .withColumn("alpha_word_frac", round(col("alpha_word_frac"), 6))
  }
}
