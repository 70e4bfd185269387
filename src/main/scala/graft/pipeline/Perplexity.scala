package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Tokens

/** CCNet-style language-model quality scoring (Wenzek et al. 2020,
  * arXiv:1911.00359): train a token n-gram LM on a trusted reference
  * corpus (CCNet uses target-language Wikipedia; the gated query uses the
  * `lang = 'en'` slice), score every document by its per-token
  * cross-entropy under that LM, and split the corpus into head / middle /
  * tail perplexity buckets — the classic pretraining-quality triage.
  *
  * Model: Laplace-smoothed bigram with a unigram first-token term.
  *   P(w)     = (c(w) + α) / (N + α·V)            — first token
  *   P(w | u) = (c(u w) + α) / (c(u) + α·V)       — subsequent tokens
  * with V = |ref vocab| + 1 (one OOV type). Unseen context u falls back
  * to c(u) = 0. Everything is closed-form counts, so an independent SQL
  * engine replays the exact scores — unlike a trained classifier.
  *
  * Scale shape: the reference corpus makes two count aggregates (vocab-
  * and bigram-vocab-sized — they join by hash, never collect). The scored
  * corpus is touched by one kernel pass that PRE-AGGREGATES (doc, gram)
  * multiplicities, two lookup joins, and one per-doc sum — O(tokens)
  * narrow rows, text never shuffles. Bucketing has an exact ntile mode
  * (global window, capped) and a quantile-threshold mode (pure filter,
  * the 100-TB path — the Dsir.resampleAboveQuantile convention). */
object Perplexity {

  /** Trained LM: (gram, c) count frames plus the scalars the smoothing
    * denominators need. `uni` rows are single tokens; `bi` rows are
    * "u w" space-joined pairs with their context token in `ctx`. */
  final case class LmModel(uni: DataFrame, bi: DataFrame,
      nTokens: Long, vocab: Long, alpha: Double)

  /** One-pass (kind, gram, ctx, cnt) emitter: every adjacent pair as kind
    * "b" (gram = "u w", ctx = u) plus unigram rows as kind "u" — ALL
    * tokens when training (`allUnigrams`), only each document's FIRST
    * token when scoring (the chain rule scores one unigram event and
    * T−1 bigram events). Counts pre-aggregated per doc in-kernel (the
    * Dsir.hashedFeatures bound: the exchange carries distinct grams per
    * doc, not tokens). */
  private[pipeline] def gramCounts(df: DataFrame, idCol: String,
      textCol: String, allUnigrams: Boolean): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        // two reused string-keyed maps with mutable long cells instead
        // of one Tuple3-keyed map with boxed-merge: the tuple + boxing
        // garbage was the kernel's dominant allocation, which amplifies
        // under 32-thread concurrent allocation. The bigram's context
        // token is re-derived at emission (tokens are whitespace-split,
        // so the gram's first space is the separator).
        val uni = new java.util.HashMap[String, Array[Long]]
        val bi = new java.util.HashMap[String, Array[Long]]
        def bump(m: java.util.HashMap[String, Array[Long]],
            g: String): Unit =
          m.computeIfAbsent(g, _ => new Array[Long](1))(0) += 1L
        it.flatMap { case (id, text) =>
          uni.clear(); bi.clear()
          val toks = Tokens.lowered(text).filter(_.nonEmpty)
          var i = 0
          while (i < toks.length) {
            if (allUnigrams || i == 0) bump(uni, toks(i))
            if (i < toks.length - 1) bump(bi, toks(i) + " " + toks(i + 1))
            i += 1
          }
          val out =
            new Array[(Long, String, String, String, Long)](
              uni.size + bi.size)
          var j = 0
          uni.forEach { (g, c) => out(j) = (id, "u", g, "", c(0)); j += 1 }
          bi.forEach { (g, c) =>
            out(j) = (id, "b", g, g.substring(0, g.indexOf(' ')), c(0))
            j += 1
          }
          out
        }
      }
      .toDF(idCol, "__k", "__g", "__ctx", "__c")
  }

  /** Train the bigram LM on a reference corpus. Two aggregates; the two
    * scalar totals are the only driver-side actions. */
  def train(ref: DataFrame, idCol: String, textCol: String,
      alpha: Double = 1.0): LmModel = {
    require(alpha > 0, "alpha must be positive")
    // both count frames read the gram pass; persisted so the reference
    // corpus is scanned once (released by the caller via clearCache, the
    // Dsir convention)
    val grams = gramCounts(ref, idCol, textCol, allUnigrams = true)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val uni = grams.filter(col("__k") === "u")
      .groupBy(col("__g").as("gram")).agg(sum(col("__c")).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bi = grams.filter(col("__k") === "b")
      .groupBy(col("__g").as("gram"), col("__ctx").as("ctx"))
      .agg(sum(col("__c")).as("c"))
    val r = uni.agg(sum(col("c")), count(lit(1))).head()
    require(!r.isNullAt(0), "reference corpus has no tokens")
    LmModel(uni, bi, nTokens = r.getLong(0), vocab = r.getLong(1) + 1,
      alpha = alpha)
  }

  /** (id, n_tokens, cross_entropy, ppl) per document: mean negative log
    * likelihood in nats and its exponential. Documents with zero
    * non-empty tokens are dropped (no scorable events). */
  def score(docs: DataFrame, idCol: String, textCol: String,
      model: LmModel): DataFrame = {
    val aV = model.alpha * model.vocab
    // conditional log-probs for OBSERVED ref grams; unseen cases coalesce
    // to the per-context floor, then the global unseen-context floor
    val uniLog = model.uni.select(col("gram").as("__g"),
      log((col("c") + model.alpha) / (model.nTokens + aV)).as("__lpu"))
    val ctxFb = model.uni.select(col("gram").as("__ctx"),
      log(lit(model.alpha) / (col("c") + aV)).as("__fb"))
    val biLog = model.bi
      .join(model.uni.withColumnRenamed("gram", "ctx")
        .withColumnRenamed("c", "__cu"), Seq("ctx"))
      .select(col("gram").as("__g"),
        log((col("c") + model.alpha) / (col("__cu") + aV)).as("__lpb"))
    val floorUni = math.log(model.alpha / (model.nTokens + aV))
    val floorCtx = math.log(model.alpha / aV)
    gramCounts(docs, idCol, textCol, allUnigrams = false)
      .join(uniLog, Seq("__g"), "left")
      .join(biLog, Seq("__g"), "left")
      .join(ctxFb, Seq("__ctx"), "left")
      .withColumn("__lp", when(col("__k") === "u",
          coalesce(col("__lpu"), lit(floorUni)))
        .otherwise(coalesce(col("__lpb"), col("__fb"), lit(floorCtx))))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_tokens"),
        (-sum(col("__c") * col("__lp")) / sum(col("__c")))
          .as("cross_entropy"))
      .withColumn("ppl", exp(col("cross_entropy")))
  }

  /** Exact head/middle/tail split: ntile over (ppl, id) ascending —
    * bucket 1 is the lowest-perplexity (most reference-like) slice. A
    * global-window sort, so capped like Dsir.resampleTopFrac; corpus-
    * scale runs use [[bucketByThresholds]]. */
  def bucketExact(scored: DataFrame, idCol: String, nBuckets: Int = 3,
      maxExact: Long = 4194304L): DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    // persist BEFORE the guard count: `scored` is the full LM-scoring
    // pipeline (gram kernel + model joins), and without the cache the
    // count ran it once for the row-count guard and the returned window
    // ran it all over again — the whole scoring phase computed twice
    // (released via clearCache, the Dsir convention; bounded by
    // maxExact rows by this mode's contract)
    val s = scored.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = s.count()
    require(n <= maxExact,
      s"exact ntile over $n rows exceeds maxExact=$maxExact (a global " +
        "window single-tasks the corpus); use bucketByThresholds at scale")
    import org.apache.spark.sql.expressions.Window
    s.withColumn("bucket",
      ntile(nBuckets).over(Window.orderBy(col("ppl"), col(idCol))))
  }

  /** Scale-path split: estimate the (i/n) perplexity quantiles with a
    * bounded-memory sketch and label by threshold comparison — a pure
    * projection, no global sort. Bucket sizes are approximate (±relErr·n);
    * the labels themselves stay deterministic given the cuts. */
  def bucketByThresholds(scored: DataFrame, nBuckets: Int = 3,
      relErr: Double = 0.001): DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    val cuts = scored.stat.approxQuantile("ppl", probs, relErr)
    val bucket = cuts.zipWithIndex.foldRight(lit(nBuckets): Column) {
      case ((cut, i), acc) => when(col("ppl") <= cut, i + 1).otherwise(acc)
    }
    scored.withColumn("bucket", bucket)
  }
}
