package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Tokens

/** Text analysis for training-data curation: language-ID (stopword/charset
  * heuristic), quality scoring, token counting (whitespace + BPE-ish
  * regex), and winnowing document fingerprints. Pure built-in expressions.
  */
object TextAnalysis {

  def tokens(text: Column): Column = split(trim(lower(text)), "\\s+")

  // ------------------------------------------------------------- lang id

  /** Tiny per-language stopword profiles (top function words). */
  val LangProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it",
      "for", "on", "with", "as"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "eine",
      "zu", "mit", "auf", "für"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "una", "es",
      "por", "con", "para"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est", "dans",
      "que", "pour", "sur"))

  /** Fraction of tokens found in a stopword list. */
  def stopwordRatio(toks: Column, words: Seq[String]): Column = {
    val set = array(words.map(lit): _*)
    when(size(toks) === 0, lit(0.0)).otherwise(
      size(filter(toks, t => array_contains(set, t))).cast("double") /
        size(toks))
  }

  /** Heuristic language id: CJK if CJK chars dominate, else the profile
    * with the highest stopword hit-rate; "und" (undetermined) when no
    * profile scores > 0. */
  def langId(text: Column): Column = {
    val cjk = length(regexp_replace(text, "[^\\u4e00-\\u9fff]", ""))
    val toks = tokens(text)
    val scores = LangProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(stopwordRatio(toks, words).as("score"), lit(lang).as("lang"))
    }
    val best = greatest(scores: _*)
    when(cjk * 2 > length(text), lit("zh"))
      .when(best.getField("score") > 0, best.getField("lang"))
      .otherwise(lit("und"))
  }

  // ------------------------------------------------------------- quality

  /** Heuristic quality facets (the classic Gopher/C4-style signals). */
  def qualityFacets(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    val nChars = length(text).cast("double")
    val nTokens = size(toks).cast("double")
    val punct = length(regexp_replace(text, "[^.,;:!?]", "")).cast("double")
    val digits = length(regexp_replace(text, "[^0-9]", "")).cast("double")
    val meanTokLen = when(nTokens === 0, 0.0).otherwise(
      aggregate(toks, lit(0L), (a, t) => a + length(t)).cast("double") /
        nTokens)
    Seq(
      "n_chars" -> nChars,
      "n_tokens" -> nTokens,
      "mean_token_len" -> meanTokLen,
      "punct_ratio" -> when(nChars === 0, 0.0).otherwise(punct / nChars),
      "digit_ratio" -> when(nChars === 0, 0.0).otherwise(digits / nChars),
      "stopword_ratio" -> stopwordRatio(toks, LangProfiles("en")))
  }

  /** Composite [0,1] quality score: reasonable length, words neither too
    * short nor too long, not digit/punct-heavy, some stopwords. */
  def qualityScore(text: Column): Column = {
    val f = qualityFacets(text).toMap
    val lenOk = when(f("n_tokens") >= 10 && f("n_tokens") <= 10000, 1.0)
      .otherwise(0.0)
    val tokOk = when(f("mean_token_len") >= 3 && f("mean_token_len") <= 12,
      1.0).otherwise(0.0)
    val punctOk = when(f("punct_ratio") <= 0.1, 1.0).otherwise(0.0)
    val digitOk = when(f("digit_ratio") <= 0.2, 1.0).otherwise(0.0)
    (lenOk + tokOk + punctOk + digitOk) / 4
  }

  // ------------------------------------------------------------- tokens

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword proxy count: runs of letters, runs of digits, and
    * single non-space symbols (a cheap, deterministic stand-in for a real
    * tokenizer's token count). */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"),
      lit(0)))

  /** Per-group tokenizer fertility — the "how many subword tokens per
    * word does this language cost" table (Ács's fertility metric;
    * multilingual budgeting reads it before setting mixture weights):
    * per `groupCol`, docs, whitespace words, BPE-ish tokens
    * ([[bpeishTokenCount]]'s regex classes), characters, and the two
    * ratios — fertility = tokens/words and chars_per_token. Exact
    * longs until the two divisions (6dp). Null texts are excluded.
    *
    * Scale shape: pure per-row counts collapsing into one map-side
    * combined hash aggregate keyed on the group — zero joins, zero
    * windows. */
  def tokenizerFertility(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val t = col(textCol)
    val words = size(filter(split(trim(lower(t)), "\\s+"),
      x => x =!= ""))
    df.filter(t.isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("docs"),
        sum(words.cast("long")).as("words"),
        sum(bpeishTokenCount(t).cast("long")).as("tokens"),
        sum(length(t).cast("long")).as("chars"))
      .select(col(groupCol), col("docs"), col("words"), col("tokens"),
        col("chars"),
        when(col("words") > 0, round(
          col("tokens").cast("double") / col("words"), 6))
          .as("fertility"),
        when(col("tokens") > 0, round(
          col("chars").cast("double") / col("tokens"), 6))
          .as("chars_per_token"))
  }

  // --------------------------------------------------------- fingerprint

  /** Shingle-hash array of a document (the winnowing input). Materialize
    * this as its own column (behind a repartition barrier) before calling
    * [[winnowFromHashes]] — inlined, the hash expression would be
    * re-evaluated once per sliding window. */
  def shingleHashes(text: Column, n: Int = 3): Column =
    transform(Dedup.shingles(text, n), s => xxhash64(s))

  /** Winnowing over a precomputed hash array: min hash of each sliding
    * window of `w`, distinct minima = the fingerprint set (robust document
    * signature for clone detection). */
  def winnowFromHashes(hashes: Column, w: Int = 4): Column = {
    val nWin = greatest(size(hashes) - (w - 1), lit(1))
    array_distinct(transform(sequence(lit(1), nWin),
      i => array_min(slice(hashes, i, lit(w)))))
  }

  /** Convenience single-expression form (fine for small docs/tests). */
  def winnowingFingerprint(text: Column, n: Int = 3, w: Int = 4): Column =
    winnowFromHashes(shingleHashes(text, n), w)

  /** Imperative shingle-hash frame (id, hashes) for fingerprinting hot
    * paths — one mapPartitions pass (see Dedup.shingleMinhash) instead of
    * interpreted per-shingle lambdas; rows with no shingles are dropped.
    *
    * VALUE-COMPATIBILITY NOTE: this path hashes each shingle by chaining
    * XXH64 over its token hashes, while the [[shingleHashes]] Column form
    * hashes the space-joined shingle STRING — the two produce different
    * hash values for the same text. Each API is internally consistent;
    * never mix them within one fingerprint comparison. For values a SQL
    * oracle can reproduce, use [[md5ShingleFrame]]. */
  def shingleHashFrame(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame =
    Dedup.shingleMinhash(df, idCol, textCol, n, k = 1)
      .select(col("id"), col("sh").as("hashes"))

  private def md5Hex(md: java.security.MessageDigest, s: String): String = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < d.length) {
      val v = d(i) & 0xff
      if (v < 16) sb.append('0')
      sb.append(java.lang.Integer.toHexString(v))
      i += 1
    }
    sb.toString
  }

  /** md5 shingle-hash frame (id, hashes): every token n-gram of the
    * normalized text, hashed md5-hex, IN DOCUMENT ORDER with repeats —
    * the classic winnowing input. One imperative pass (the Column form
    * would re-run the tokenizer per shingle, interpreted); md5 is
    * engine-portable, so winnowing fingerprints derived from this frame
    * are reproducible bit-for-bit by any SQL engine. Rows keep an empty
    * array when the text has fewer than `n` tokens. */
  def md5ShingleFrame(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"),
      col(textCol).cast("string").as("text"))
      // CPU-dense floor: MD5 per gram per row — see Sizing scaladoc
      .repartition(Sizing.parallelism(df, Sizing.CpuDenseFloorBytes))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          val toks = Tokens.lowered(text)
          val L = math.max(toks.length - (n - 1), 0)
          val out = new Array[String](L)
          var i = 0
          while (i < L) {
            val sb = new java.lang.StringBuilder
            var j = 0
            while (j < n) {
              if (j > 0) sb.append(' ')
              sb.append(toks(i + j))
              j += 1
            }
            out(i) = md5Hex(md, sb.toString)
            i += 1
          }
          (id, out)
        }
      }
      .toDF("id", "hashes")
  }

  // ------------------------------------- relevance / feature vectors

  /** Hashed TF-IDF document vectors in sparse (id, dim_idx, weight) form —
    * the text→feature stage in front of the ANN/clustering family. Each
    * term t contributes tf(d,t)·ln((N+1)/(df_t+1)) to bucket
    * md5prefix(t) mod dim ([[Curation.hashUniform]]'s engine-portable
    * hash, so any SQL engine reproduces the exact layout).
    *
    * Scale shape: nothing driver-side — (id, term) hash agg with
    * map-side combine over the token explode, df_t as a term-keyed
    * HASH aggregate (map-side combine, so the hottest stopword reduces
    * to one row per partition before the exchange — never a window that
    * buffers every (id, "the") row in one task) joined back on term
    * (AQE splits any residual skew), then the (id, bucket) hash agg. N
    * arrives as a broadcast one-row cross join, never a collected
    * scalar. Dense assembly is a downstream `array_agg` when a consumer
    * wants it; the sparse triple is the honest 100-TB layout. */
  def hashedTfIdf(df: DataFrame, idCol: String, textCol: String,
      dim: Int = 64): DataFrame = {
    val nDocs = df.agg(count(lit(1)).cast("double").as("__n"))
    val tf = df
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).cast("double").as("tf"))
    // document frequency: one row per vocabulary term. tf already has
    // one row per (id, term), so counting rows per term IS df_t.
    val dfT = tf.groupBy("term")
      .agg(count(lit(1)).cast("double").as("df_t"))
    tf
      .join(dfT, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("w",
        col("tf") * log((col("__n") + 1.0) / (col("df_t") + 1.0)))
      .withColumn("dim_idx",
        (conv(substring(md5(col("term")), 1, 8), 16, 10)
          .cast("long") % dim).cast("int"))
      .groupBy("id", "dim_idx").agg(sum(col("w")).as("weight"))
  }

  /** BM25 relevance of every document against a small literal query —
    * Okapi BM25 with the standard k1/b and the
    * idf_t = ln(1 + (N−df_t+0.5)/(df_t+0.5)) form.
    *
    * Scale shape: per-term tf via `size(filter(tokens))` expressions (the
    * query is a handful of terms — per-row closed form, no explode, no
    * shuffle), corpus stats (N, avgdl, df_t) in ONE one-row aggregate
    * broadcast back as a cross join. Total: two scans of the text column
    * and zero wide shuffles — at 100 TB the ranking is scan-bound, which
    * is the floor. */
  def bm25(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75)
      : DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.size <= 32,
      s"bm25 wants a small literal query, got ${queryTerms.size} terms")
    // tokens() lowercases the corpus side — normalize the query the
    // same way, or an uppercase query term silently scores tf=0
    val terms = queryTerms.map(_.trim.toLowerCase).filter(_.nonEmpty)
      .distinct
    require(terms.nonEmpty, "bm25 query is empty after normalization")
    // tokenize ONCE per row into a materialized column: each tfOf and
    // the dl re-ran the split otherwise — (terms + 1) tokenizer passes
    // per row per scan (the optimizer does not CSE across expressions,
    // and CollapseProject keeps a non-cheap alias used multiple times)
    def tfOf(t: String): Column =
      size(filter(col("__tk"), x => x === lit(t))).cast("double")
    val baseCols = col(idCol).as("id") +:
      size(col("__tk")).cast("double").as("dl") +:
      terms.zipWithIndex.map { case (t, i) => tfOf(t).as(s"tf_$i") }
    val base = df.withColumn("__tk", tokens(col(textCol)))
      .select(baseCols: _*)
    val statAggs = count(lit(1)).cast("double").as("n_docs") +:
      avg(col("dl")).as("avgdl") +:
      terms.indices.map(i =>
        sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L))
          .cast("double").as(s"df_$i"))
    val stats = base.agg(statAggs.head, statAggs.tail: _*)
    val scored = base.crossJoin(broadcast(stats))
    val score = terms.indices.map { i =>
      val idf = log(lit(1.0) +
        (col("n_docs") - col(s"df_$i") + 0.5) / (col(s"df_$i") + 0.5))
      val tf = col(s"tf_$i")
      idf * (tf * (k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    scored
      .withColumn("score", score)
      .filter(terms.indices.map(i => col(s"tf_$i") > 0).reduce(_ || _))
      .select(col("id"), col("dl").cast("long").as("dl"), col("score"))
  }

  // --------------------------------------------------------- PII scrub

  /** Fully-anchored-free PII redaction over a text column: emails, IPv4
    * addresses, and phone-shaped digit runs become typed placeholders —
    * the standard pre-training scrub pass. Patterns stay in the portable
    * regex subset (no lookbehind) so the DuckDB oracle matches them
    * verbatim. Pure expression — codegen'd, no UDF. */
  def scrubPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email,
      "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>")
    regexp_replace(ip,
      "\\+?\\d{1,3}[ -]\\d{3}[ -]\\d{3,4}([ -]\\d{1,4})?", "<PHONE>")
  }

  /** PII census — the REPORT face of [[scrubPii]] (which masks): how
    * many emails / IPv4s / phone-shaped runs each document carries,
    * plus the any-hit flag — the per-doc risk score a release gate
    * thresholds on before the scrub decides what survives. Patterns
    * are [[scrubPii]]'s, chosen RE2-compatible (no lookarounds or
    * backrefs) so an independent engine counts identically;
    * non-overlapping leftmost matching is the shared semantic. Null
    * text answers zeros (absence of text is not PII).
    *
    * Scale shape: pure per-row regexp counts — zero shuffle, rides
    * whole-stage codegen with the scan. */
  def piiCensus(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    def cnt(pattern: String): Column =
      when(col(textCol).isNotNull,
        regexp_count(col(textCol), lit(pattern))).otherwise(lit(0))
        .cast("long")
    val emails = cnt("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")
    val ips = cnt("\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b")
    val phones = cnt("\\+?\\d{1,3}[ -]\\d{3}[ -]\\d{3,4}([ -]\\d{1,4})?")
    df.select(col(idCol), emails.as("n_emails"), ips.as("n_ips"),
        phones.as("n_phones"))
      .withColumn("has_pii",
        col("n_emails") + col("n_ips") + col("n_phones") > 0)
  }

  // ------------------------------------------- boilerplate chunk removal

  /** C4-style corpus-frequency boilerplate removal, generalized from
    * lines to fixed-size word chunks (the testdata has no newlines): a
    * chunk whose exact text appears in more than `maxDocs` DISTINCT
    * documents is boilerplate; every document is rebuilt from its
    * surviving chunks in order (documents consisting entirely of
    * boilerplate drop out).
    *
    * Scale shape: one word explode (narrow), a (doc, chunk) hash agg, a
    * chunk-frequency agg keyed by the 8-byte xxhash64 of the chunk (the
    * corpus text never rides the frequency shuffle), a left_anti against
    * the small boilerplate-hash set (broadcastable — boilerplate is rare
    * by definition), and the per-doc rebuild agg. The chunk frame feeds
    * both the frequency count and the anti-join, so it is persisted like
    * the minhash signature projection. */
  def scrubBoilerplate(df: DataFrame, idCol: String, textCol: String,
      chunkWords: Int = 10, maxDocs: Long = 2): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    require(chunkWords > 0 && maxDocs > 0, "need chunkWords, maxDocs > 0")
    val words = df.select(col(idCol),
      posexplode(split(col(textCol), " ")).as(Seq("__pos", "__w")))
    val chunks = words
      .groupBy(col(idCol), expr(s"__pos DIV $chunkWords").as("__cno"))
      .agg(array_join(transform(array_sort(collect_list(
        struct(col("__pos").as("p"), col("__w").as("w")))),
        x => x.getField("w")), " ").as("__chunk"))
      .withColumn("__h", xxhash64(col("__chunk")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val boilerplate = chunks.groupBy(col("__h"))
      .agg(count_distinct(col(idCol)).as("__nd"))
      .filter(col("__nd") > maxDocs)
      .select("__h")
    chunks.join(boilerplate, Seq("__h"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(transform(array_sort(collect_list(
        struct(col("__cno").as("c"), col("__chunk").as("t")))),
        x => x.getField("t")), " ").as(textCol))
  }

  /** Zipf/vocabulary profile of a corpus: the top-`k` token types by
    * frequency with rank, corpus share, and cumulative coverage — the
    * tokenizer-health report a data pipeline reads before training
    * (a too-flat head means boilerplate; coverage-at-k sizes a vocab).
    *
    * Scale shape: one token-keyed hash aggregate (map-side combined —
    * the natural Zipf skew concentrates into ~vocab-size cells), then
    * `orderBy(...).limit(k)` collapses the vocab through Spark's
    * TakeOrderedAndProject (a k-bounded per-partition heap + driver
    * merge — never a global sort of the full vocabulary), and the
    * rank/cumulative window runs on the k surviving rows in a single
    * tiny task. The grand total rides a cross-join of one scalar
    * row. */
  def vocabStats(df: DataFrame, textCol: String, k: Int): DataFrame =
    vocabStatsReleasable(df, textCol, k)._1

  /** [[vocabStats]] plus a release handle that unpersists the internal
    * counts cache — long-lived services call it after the consuming
    * action (the [[graft.analysis.Slo.burnRatesReleasable]]
    * convention; the plain entry leaves the cache to the session). */
  def vocabStatsReleasable(df: DataFrame, textCol: String, k: Int)
      : (DataFrame, () => Unit) = {
    require(k > 0, "vocabStats needs k > 0")
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
    // persisted: the top-k branch and the total-token scalar both read
    // the counts frame — without the pin the corpus-sized token scan
    // runs twice (exchange reuse is an AQE maybe, not a guarantee)
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = counts.agg(sum("cnt").as("__total"))
    val top = counts.orderBy(desc("cnt"), col("tok")).limit(k)
    val w = Window.orderBy(desc("cnt"), col("tok"))
    val out = top.crossJoin(total)
      .withColumn("rank", row_number().over(w))
      .withColumn("share",
        round(col("cnt").cast("double") / col("__total"), 6))
      .withColumn("cum_share",
        round(sum(col("cnt")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double") / col("__total"), 6))
      .select("rank", "tok", "cnt", "share", "cum_share")
    (out, () => { counts.unpersist(blocking = false); () })
  }

  /** Adjacent-bigram PMI phrase mining: pointwise mutual information
    * log((c_xy · N) / (c_x · c_y)) for token bigrams seen at least
    * `minCount` times — the collocation score that surfaces
    * multi-word units ("new york", "machine learning") for tokenizer
    * or stop-phrase decisions (Church & Hanks 1990).
    *
    * Scale shape: ONE corpus scan — unigrams and bigrams ride a
    * tagged-union explode (the `repetitionSignals` idiom) into one
    * hash aggregate, persisted vocabulary-sized; the corpus token
    * count N derives from the unigram counts rather than a second
    * scan; the probability joins are term-keyed over vocab frames
    * (never corpus rows); the final top-`k` collapses through
    * TakeOrderedAndProject's bounded per-partition heap, not a global
    * sort. */
  def pmiBigrams(df: DataFrame, textCol: String, minCount: Long,
      k: Int): DataFrame =
    pmiBigramsReleasable(df, textCol, minCount, k)._1

  /** [[pmiBigrams]] plus a release handle that unpersists the internal
    * counts cache — long-lived services call it after the consuming
    * action (the [[graft.analysis.Slo.burnRatesReleasable]]
    * convention; the plain entry leaves the cache to the session). */
  def pmiBigramsReleasable(df: DataFrame, textCol: String,
      minCount: Long, k: Int): (DataFrame, () => Unit) = {
    require(k > 0 && minCount > 0, "pmiBigrams needs k, minCount > 0")
    // a null text tokenizes to a null array, and with ANSI off
    // size(null) = -1 — one null doc would subtract from the corpus
    // token count N and skew every PMI; drop null rows at the funnel
    val toked = df.select(tokens(col(textCol)).as("__t"))
      .filter(col("__t").isNotNull)
    val emptyPairs =
      array().cast("array<struct<k:string,w1:string,w2:string>>")
    val tagged = toked.select(explode(concat(
      transform(col("__t"), t =>
        struct(lit("u").as("k"), t.as("w1"),
          lit(null).cast("string").as("w2"))),
      when(size(col("__t")) >= 2,
        transform(sequence(lit(1), size(col("__t")) - 1), i =>
          struct(lit("b").as("k"),
            element_at(col("__t"), i.cast("int")).as("w1"),
            element_at(col("__t"), (i + 1).cast("int")).as("w2"))))
        .otherwise(emptyPairs))).as("__e"))
      .select(col("__e.k").as("__k"), col("__e.w1").as("w1"),
        col("__e.w2").as("w2"))
      .filter(col("w1") =!= "" &&
        (col("__k") === "u" || col("w2") =!= ""))
    val counts = tagged.groupBy("__k", "w1", "w2")
      .agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val uni = counts.filter(col("__k") === "u")
      .select(col("w1").as("w"), col("c").as("cw"))
    val n = uni.agg(sum("cw").as("__n"))
    val bi = counts.filter(col("__k") === "b" && col("c") >= minCount)
      .select(col("w1"), col("w2"), col("c").as("cxy"))
    val scored = bi
      .join(uni.select(col("w").as("w1"), col("cw").as("cx")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("cw").as("cy")), Seq("w2"))
      .crossJoin(n)
      .withColumn("pmi", round(
        log(col("cxy").cast("double") * col("__n") /
          (col("cx").cast("double") * col("cy"))), 6))
    val out = scored.orderBy(desc("pmi"), col("w1"), col("w2")).limit(k)
      .select("w1", "w2", "cxy", "pmi")
    (out, () => { counts.unpersist(blocking = false); () })
  }

  /** Flesch reading-ease frame (Flesch 1948): per doc, word count
    * (whitespace tokens), sentence count (runs of terminal
    * punctuation, floored at 1 — a fragment is one sentence), a
    * syllable proxy (vowel-group runs, the classic zero-dependency
    * heuristic), and the score
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words).
    * A length-independent prose-complexity quality signal — the
    * curation facet the length/punct ratios in [[qualityFacets]]
    * don't capture. Null/empty text answers null fields.
    *
    * Float parity: the three counters are exact ints; the score is
    * two divisions and a linear combine in one expression shape the
    * oracle mirrors verbatim. Scale shape: pure per-row expressions —
    * zero shuffle, rides the scan. */
  def readability(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val t = col(textCol)
    val words = size(filter(tokens(t), w => w =!= ""))
    val sentences = greatest(
      size(regexp_extract_all(t, lit("[.!?]+"), lit(0))), lit(1))
    val syllables =
      size(regexp_extract_all(lower(t), lit("[aeiouy]+"), lit(0)))
    val ok = t.isNotNull && words > 0
    val flesch = lit(206.835) -
      lit(1.015) * (words.cast("double") / sentences) -
      lit(84.6) * (syllables.cast("double") / words)
    df.select(col(idCol),
      when(ok, words).as("n_words"),
      when(ok, sentences).as("n_sentences"),
      when(ok, syllables).as("n_syllables"),
      when(ok, round(flesch, 6)).as("flesch"))
  }

  /** Corpus mixture diversity: per group, the row count, mixture
    * share p = n/N, and the Shannon entropy term −p·ln p — the
    * data-mixing health read ("is one source quietly eating the
    * corpus?"). Per-group TERM rows, never a cross-row float sum (the
    * categoricalDrift bit-stability convention): downstream,
    * H = Σ entropy_term and the effective source count is exp(H).
    * Null group keys form their own row — an unattributed slice is a
    * finding, not a drop.
    *
    * Scale shape: one map-side-combined hash aggregate to group cells
    * + a one-row total cross join; corpus rows never shuffle. */
  def mixtureDiversity(df: DataFrame, groupCols: Seq[String])
      : DataFrame =
    mixtureDiversityReleasable(df, groupCols)._1

  /** [[mixtureDiversity]] plus a release handle for the internal cell
    * cache (the Slo convention — the total branch and the cross join
    * both read the corpus-wide aggregate; AQE exchange reuse is a
    * maybe, the pin is a guarantee). */
  def mixtureDiversityReleasable(df: DataFrame, groupCols: Seq[String])
      : (DataFrame, () => Unit) = {
    require(groupCols.nonEmpty, "need at least one group column")
    val keyCs = groupCols.map(col)
    val cells = df.groupBy(keyCs: _*).agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = cells.agg(sum("n").as("__t"))
    val out = cells.crossJoin(total)
      .withColumn("__p", col("n").cast("double") / col("__t"))
      .select(keyCs ++ Seq(col("n"),
        round(col("__p"), 6).as("share"),
        round(lit(0.0) - col("__p") * log(col("__p")), 6)
          .as("entropy_term")): _*)
    (out, () => { cells.unpersist(blocking = false); () })
  }

  // ------------------------------------------- script mix / normalization

  /** Unicode-script ranges counted by [[scriptMix]] — the coarse
    * blocks a multilingual-corpus audit actually routes on. Each is
    * (name, negated character class): count = length after deleting
    * every char NOT in the block, an expression both engines spell
    * identically. */
  val ScriptRanges: Seq[(String, String)] = Seq(
    ("latin", "[^A-Za-z\\u00C0-\\u024F]"),
    ("cyrillic", "[^\\u0400-\\u04FF]"),
    ("cjk", "[^\\u3040-\\u30FF\\u4E00-\\u9FFF\\uAC00-\\uD7AF]"),
    ("arabic", "[^\\u0600-\\u06FF]"),
    ("greek", "[^\\u0370-\\u03FF]"),
    ("digit", "[^0-9]"))

  /** Per-document script mix: for each [[ScriptRanges]] block the
    * character count and 6dp fraction of non-space characters, plus
    * `other` (everything unclassified). The routing signal a
    * multilingual pipeline filters on BEFORE language-ID ("mixed-script
    * spam", "wrong-script for claimed lang") — langId answers WHICH
    * language, this answers IS IT EVEN ONE SCRIPT.
    *
    * Scale shape: pure per-row regexp_replace+length expressions —
    * zero shuffle, rides the scan inside codegen. */
  def scriptMix(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val t = col(textCol)
    val nonSpace = length(regexp_replace(t, "\\s", ""))
    val counts = ScriptRanges.map { case (name, neg) =>
      (name, length(regexp_replace(t, neg, ""))) }
    val classified = counts.map(_._2).reduce(_ + _)
    val cols = counts.flatMap { case (name, c) =>
      Seq(c.as(s"n_$name"),
        round(when(nonSpace > 0, c.cast("double") / nonSpace)
          .otherwise(lit(0.0)), 6).as(s"f_$name"))
    }
    df.select(col(idCol) +: nonSpace.as("n_chars_ns") +: cols :+
      (nonSpace - classified).as("n_other"): _*)
  }

  /** NFC text normalization — the canonicalization pass a corpus gets
    * before any hash-based dedup (decomposed "é" and precomposed
    * "é" must hash identically): Unicode NFC (java.text.Normalizer —
    * ships with the JVM), C0+C1 control-character strip (minus
    * tab/newline/CR, which the subsequent collapse turns into single
    * spaces), then whitespace collapse + trim. Strip runs BEFORE
    * collapse so a control char between two spaces can't leave a
    * double space in the "normalized" output. Output: id,
    * `text_norm`, `changed` (1 when normalization moved anything),
    * `len_before`/`len_after` (CODEPOINT counts — UTF-16 unit counts
    * would disagree with every other engine on astral chars).
    *
    * Scale shape: one typed mapPartitions kernel (Normalizer.normalize
    * is per-row JVM work, the MediaCodecs discipline) — no shuffle. */
  def normalizeText(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
    ds.mapPartitions(_.map { case (id, text) =>
      if (text == null) (id, null: String, null: Option[Long],
        null: Option[Long], null: Option[Long])
      else {
        val nfc = java.text.Normalizer.normalize(text,
          java.text.Normalizer.Form.NFC)
        val cleaned = nfc
          .replaceAll(
            "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F\\u0080-\\u009F]",
            "")
          .replaceAll("\\s+", " ")
          .trim
        (id, cleaned, Some(if (cleaned == text) 0L else 1L),
          Some(text.codePointCount(0, text.length).toLong),
          Some(cleaned.codePointCount(0, cleaned.length).toLong))
      }
    }).toDF(idCol, "text_norm", "changed", "len_before", "len_after")
  }

  // --------------------------------------------------- PII: Luhn numbers

  /** Per-document payment-card detection with REAL validation: digit
    * runs of 13–19 (the PAN length family) found by regexp, then the
    * Luhn mod-10 checksum (ISO/IEC 7812) verified per candidate — the
    * curation upgrade over [[scrubPii]]'s shape-only regexes, because
    * a random 16-digit number is a false positive 9 times out of 10.
    * Output: id, `n_candidates`, `n_luhn_valid`.
    *
    * The checksum is a pure HOF expression (aggregate over the
    * reversed digit array — doubled evens fold as d*2 mod 9 with the
    * 18→9 fixup), so the scan stays inside codegen: no UDF, and an
    * oracle replays the identical arithmetic. */
  def luhnScan(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    // digit-boundary lookarounds anchor the run: without them a
    // digit blob longer than 19 (decimal ids, hashes) yields its
    // greedy 19-digit prefix as a candidate and can even pass Luhn —
    // only MAXIMAL 13–19 digit runs are PAN-shaped
    val cands = regexp_extract_all(col(textCol),
      lit("(?<![0-9])[0-9]{13,19}(?![0-9])"), lit(0))
    // Luhn over one candidate string: sum over positions i (0-based
    // from the RIGHT) of digit if i even else doubled-with-carry;
    // doubled d folds to d*2 - 9 when d > 4
    def luhnOk(s: Column): Column = {
      // reversed string → digits right-to-left; position i pairs via
      // zip_with against 0..len-1
      val rts = split(reverse(s), "")
      val total = aggregate(
        zip_with(rts, sequence(lit(0), length(s) - 1),
          (d, i) => {
            val v = d.cast("int")
            when(i % 2 === 0, v)
              .otherwise(when(v > 4, v * 2 - 9).otherwise(v * 2))
          }),
        lit(0), (acc, x) => acc + x)
      total % 10 === 0
    }
    // null text: explicit guard — with ANSI off, size(null) answers
    // -1 and would deflate every downstream sum (the round-10 gotcha)
    val ok = col(textCol).isNotNull
    df.select(col(idCol),
      when(ok, size(cands)).as("n_candidates"),
      when(ok, size(filter(cands, c => luhnOk(c))))
        .as("n_luhn_valid"))
  }

  // ------------------------------------------------------ sentence stats

  /** Per-document sentence statistics: split on terminal-punctuation
    * runs, drop empty fragments; count, whitespace-token total, mean
    * tokens per sentence (6dp), and the longest sentence's token
    * count. The structural quality facet repetition/readability don't
    * carry: wall-of-text (one 400-token "sentence") and staccato spam
    * both surface here. Pure per-row HOF expressions — zero shuffle. */
  def sentenceStats(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val sents = filter(
      transform(split(col(textCol), "[.!?]+"), s => trim(s)),
      s => s =!= "")
    val tokCounts = transform(sents,
      s => size(filter(split(s, "\\s+"), w => w =!= "")))
    val nSent = size(sents)
    val nTok = aggregate(tokCounts, lit(0), (a, x) => a + x)
    val ok = col(textCol).isNotNull && nSent > 0
    df.select(col(idCol),
      when(ok, nSent).as("n_sentences"),
      when(ok, nTok).as("n_tokens"),
      when(ok, round(nTok.cast("double") / nSent, 6))
        .as("mean_sentence_tokens"),
      when(ok, array_max(tokCounts)).as("max_sentence_tokens"))
  }

  // -------------------------------------------------- character entropy

  /** Per-(doc, char) entropy cells over non-space characters: count,
    * 6dp probability, and the Shannon term −p·log2 p — the gibberish/
    * encoding-garbage detector (natural text sits ~4–4.5 bits/char;
    * base64 blobs and key-mash spam run higher, repeated-char padding
    * lower). Cell rows, never a cross-row float sum (the
    * [[mixtureDiversity]] convention): per-doc H = Σ entropy_term
    * downstream.
    *
    * Scale shape: one explode + map-side-combined hash aggregate keyed
    * (id, char) — bounded by alphabet size per doc, and the join back
    * to per-doc totals carries cell rows only. */
  def charEntropyCells(df: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    charEntropyCellsReleasable(df, idCol, textCol)._1

  /** [[charEntropyCells]] plus a release handle for the internal cell
    * cache (the totals branch and the join both read it — AQE
    * exchange reuse is a maybe, the pin is a guarantee). */
  def charEntropyCellsReleasable(df: DataFrame, idCol: String,
      textCol: String): (DataFrame, () => Unit) = {
    val chars = df.select(col(idCol),
      explode(filter(split(col(textCol), ""), c => c =!= " ")).as("ch"))
    val cells = chars.groupBy(col(idCol), col("ch"))
      .agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = cells.groupBy(col(idCol)).agg(sum("n").as("__t"))
    val out = cells.join(totals, Seq(idCol))
      .withColumn("__p", col("n").cast("double") / col("__t"))
      .select(col(idCol), col("ch"), col("n"),
        round(col("__p"), 6).as("p"),
        round(lit(0.0) - col("__p") * log(2.0, col("__p")), 6)
          .as("entropy_term"))
    (out, () => { cells.unpersist(blocking = false); () })
  }

  // ------------------------------------------------ vocabulary overlap

  /** Pairwise vocabulary Jaccard between groups (sources, languages,
    * shards): for every unordered group pair, |V∩|/|V∪| over distinct
    * whitespace tokens — the corpus-composition read behind "are these
    * two sources the same crawl twice?" (near-1 overlap flags a
    * source-level duplicate no doc-level dedup sees).
    *
    * Scale shape: the corpus collapses map-side to (group, token)
    * vocabulary cells; the pair join is keyed ON THE TOKEN (vocabulary-
    * bounded, never corpus rows), and group sizes broadcast back.
    * Groups are FEW by nature (sources/langs); the output is at most
    * #groups² / 2 rows — pairs sharing ZERO tokens emit no row
    * (absence = zero overlap; materializing every pair would need a
    * groups×groups cross join for rows that carry no signal). */
  def vocabOverlap(df: DataFrame, groupCol: String, textCol: String)
      : DataFrame =
    vocabOverlapReleasable(df, groupCol, textCol)._1

  /** [[vocabOverlap]] plus a release handle for the vocabulary cache
    * (sizes + both self-join sides read it — the tokenize/explode/
    * distinct over the corpus is the dominant cost and must not
    * replay per branch). */
  def vocabOverlapReleasable(df: DataFrame, groupCol: String,
      textCol: String): (DataFrame, () => Unit) = {
    val vocab = df
      .select(col(groupCol).cast("string").as("g"),
        explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = vocab.groupBy(col("g")).agg(count(lit(1)).as("nv"))
    val inter = vocab.as("a")
      .join(vocab.as("b"),
        col("a.tok") === col("b.tok") && col("a.g") < col("b.g"))
      .groupBy(col("a.g").as("ga"), col("b.g").as("gb"))
      .agg(count(lit(1)).as("n_inter"))
    val out = inter
      .join(broadcast(sizes.select(col("g").as("ga"),
        col("nv").as("na"))), Seq("ga"))
      .join(broadcast(sizes.select(col("g").as("gb"),
        col("nv").as("nb"))), Seq("gb"))
      .select(col("ga"), col("gb"), col("na"), col("nb"),
        col("n_inter"),
        round(col("n_inter").cast("double") /
          (col("na") + col("nb") - col("n_inter")), 6).as("jaccard"))
    (out, () => { vocab.unpersist(blocking = false); () })
  }

  // ------------------------------------------------------------ OOV rate

  /** Out-of-vocabulary rate of a batch against a reference corpus —
    * the incremental-crawl drift read ("how much of this new crawl is
    * vocabulary the training corpus has never seen?"): per batch doc,
    * the token count, the count NOT in the reference's distinct-token
    * vocabulary, and the 6dp rate. Complements [[vocabOverlap]]
    * (group×group) with a doc-granular batch×corpus read.
    *
    * Scale shape: the reference collapses map-side to a distinct-token
    * vocabulary; batch tokens join it TOKEN-KEYED (vocab-bounded),
    * then re-aggregate per doc — document text never shuffles. */
  def oovRate(batch: DataFrame, reference: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val vocab = reference
      .select(explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "").distinct()
      .withColumn("__known", lit(1))
    val toks = batch.select(col(idCol),
        explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
    toks.join(vocab, Seq("tok"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__known").isNull, 1L).otherwise(0L))
          .as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens"), 6))
  }

  // ----------------------------------------------- keyword extraction

  /** Deterministic top-k keyword extraction per document: terms
    * ranked by (tf desc, df asc, term asc) — an INTEGER-ONLY sort
    * key, so no float comparison can ULP-flip a rank across engines
    * or partitionings; the reported `tfidf` (tf·ln(N/df), 6dp) is a
    * single deterministic expression, display not ranking. The
    * "what is this document about" facet for corpus browsing and
    * topic-mix audits.
    *
    * Scale shape: (id, term) tf cells + a term-keyed df join
    * (vocab-bounded); the per-doc rank window partitions on the id —
    * bounded by the doc's own vocabulary, never a hot key. */
  def topTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    require(k > 0, "k must be positive")
    // N arrives as a broadcast one-row cross join, never a collected
    // scalar (the hashedTfIdf convention — a driver-side count() would
    // scan the corpus twice and make the operator eager)
    val n = df.agg(count(lit(1)).cast("double").as("__n"))
    val tf = df.select(col(idCol),
        explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(dfT, Seq("term"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .crossJoin(broadcast(n))
      .select(col(idCol), col("rank"), col("term"), col("tf"),
        col("df"),
        round(col("tf").cast("double") *
          log(col("__n") / col("df")), 6).as("tfidf"))
  }

  // ----------------------------------------------------- hapax ratio

  /** Per-group hapax legomena ratio: the fraction of the group's
    * vocabulary seen exactly once, plus vocab size and token total —
    * the lexical-diversity/quality read (templated spam has almost no
    * hapaxes; OCR garbage is almost all hapaxes; natural prose sits
    * in between, and a SHIFT in a source's hapax ratio between crawls
    * is a pipeline regression signal).
    *
    * Scale shape: (group, token) count cells collapse map-side; the
    * ratio is one re-aggregate over cells — corpus rows shuffle zero
    * times, exact longs until one division. */
  def hapaxRatio(df: DataFrame, groupCol: String, textCol: String)
      : DataFrame = {
    val cells = df.select(col(groupCol).cast("string").as("g"),
        explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("g"), col("tok"))
      .agg(count(lit(1)).as("n"))
    cells.groupBy(col("g"))
      .agg(count(lit(1)).as("vocab"),
        sum(col("n")).as("n_tokens"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("hapax"))
      .select(col("g"), col("vocab"), col("n_tokens"), col("hapax"),
        round(col("hapax").cast("double") / col("vocab"), 6)
          .as("hapax_ratio"))
  }

  // ------------------------------------------- compression-ratio signal

  /** Per-document DEFLATE compression ratio (compressed/raw bytes) —
    * the classic one-number gibberish/repetition detector (used by
    * Gopher-era pipelines): natural prose sits ~0.3–0.5, repeated
    * spam compresses far below, random/encrypted blobs stay ≈ 1.
    * Deliberately NOT oracle-gated: deflate output length is
    * zlib-implementation-specific, so no cross-engine oracle can
    * replay it — the spec pins determinism and the
    * repetitive < prose < random ordering instead.
    *
    * Ids must be integral (the kernel casts to long — the
    * contaminationHits contract); wrap arbitrary keys with
    * Dedup.longIds first.
    *
    * Scale shape: one typed mapPartitions kernel with one reused
    * Deflater per partition — per-row JVM work, zero shuffle; the
    * native zlib buffers release on task completion (limit()/take()
    * can abandon a partition iterator mid-stream, so an
    * end-of-iterator hook alone would leak). */
  def compressionRatio(df: DataFrame, idCol: String, textCol: String,
      level: Int = 6): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
    ds.mapPartitions { it =>
      val deflater = new java.util.zip.Deflater(level)
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit](_ => deflater.end()))
      val buf = new Array[Byte](8192)
      it.map { case (id, text) =>
        if (text == null || text.isEmpty)
          (id, null: Option[Long], null: Option[Long],
            null: Option[Double])
        else {
          val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          deflater.reset()
          deflater.setInput(raw)
          deflater.finish()
          var total = 0L
          while (!deflater.finished())
            total += deflater.deflate(buf)
          (id, Some(raw.length.toLong), Some(total),
            Some(math.rint(total.toDouble / raw.length * 1e6) / 1e6))
        }
      }
    }.toDF(idCol, "raw_bytes", "deflate_bytes", "compression_ratio")
  }

  /** Per-document analysis frame: id, lang, token counts, facets, score. */
  def analyze(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val facets = qualityFacets(col(textCol))
    df.select(
      (col(idCol) +:
        langId(col(textCol)).as("lang_pred") +:
        tokenCount(col(textCol)).as("n_tokens_ws") +:
        bpeishTokenCount(col(textCol)).as("n_tokens_bpeish") +:
        facets.map { case (name, c) => c.as(name) } :+
        qualityScore(col(textCol)).as("quality")): _*)
  }
}
