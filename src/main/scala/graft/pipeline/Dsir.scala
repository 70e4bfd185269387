package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Tokens

/** Data Selection with Importance Resampling (DSIR, Xie et al. 2023):
  * pick raw-corpus documents that look like a small target domain by the
  * likelihood ratio of two hashed bag-of-n-grams models, then sample
  * with Gumbel top-k — the standard published recipe for steering a
  * pretraining mix toward a domain without a trained classifier.
  *
  * Scale shape: the raw corpus is touched by exactly two hash shuffles —
  * per-(doc, bucket) feature counts (pre-aggregated inside the kernel,
  * so the exchange carries ≤ `buckets` rows per doc, not one per gram)
  * and the per-doc weight sum. Both bucket-probability models are
  * `buckets`-row aggregates that ride a broadcast join; the target
  * corpus is small by definition. Selection is a distributed
  * TakeOrdered, never a global sort. Every hash is the engine-portable
  * md5 prefix (Curation.hashUniform's convention), so an independent
  * engine evaluating the same definitions reproduces the exact sample.
  */
object Dsir {

  /** Hashed feature bucket of one gram: first 8 md5 hex chars mod
    * `buckets` (portable: DuckDB `CAST('0x'||substr(md5(g),1,8) AS
    * BIGINT) % buckets`). */
  def gramBucket(gram: Column, buckets: Int): Column =
    conv(substring(md5(gram), 1, 8), 16, 10).cast("long") % buckets

  /** (id, bucket, cnt): hashed unigram+bigram counts per document, one
    * tokenizer pass per row, counts pre-aggregated in-kernel so the
    * downstream exchange is bounded by min(grams, buckets) rows per doc.
    * Ids must be integral (cast to long). */
  def hashedFeatures(df: DataFrame, idCol: String, textCol: String,
      buckets: Int): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    require(buckets <= (1 << 22),
      s"hashedFeatures holds a per-task long[buckets] count array; " +
        s"$buckets exceeds the 4Mi cap (use fewer hash buckets)")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        // Allocation-lean kernel (this path measured 7× the per-work CPU
        // at 32 threads vs 8 — boxing/concat garbage amplifies under
        // concurrent allocation): bigram digests stream token bytes +
        // one space byte through the MessageDigest instead of building
        // a concatenated String (UTF-8 of a concat IS the concat of
        // UTF-8), per-token bytes are computed once, and counts fold
        // into a reused primitive array + touched-index list instead of
        // a boxed HashMap. Bucket value unchanged: first 4 md5 bytes,
        // big-endian unsigned, mod buckets.
        val md = java.security.MessageDigest.getInstance("MD5")
        val counts = new Array[Long](buckets)
        var touched = new Array[Int](256)
        def bucketOf(d: Array[Byte]): Int =
          ((((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
            ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)) % buckets).toInt
        it.flatMap { case (id, text) =>
          val toks = Tokens.lowered(text).filter(_.nonEmpty)
          val tb = new Array[Array[Byte]](toks.length)
          var i = 0
          while (i < toks.length) {
            tb(i) = toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
            i += 1
          }
          var nTouched = 0
          def bump(b: Int): Unit = {
            if (counts(b) == 0L) {
              if (nTouched == touched.length)
                touched = java.util.Arrays.copyOf(touched, nTouched * 2)
              touched(nTouched) = b
              nTouched += 1
            }
            counts(b) += 1L
          }
          i = 0
          while (i < tb.length) {
            md.update(tb(i))
            bump(bucketOf(md.digest()))
            if (i < tb.length - 1) {
              md.update(tb(i))
              md.update(' '.toByte)
              md.update(tb(i + 1))
              bump(bucketOf(md.digest()))
            }
            i += 1
          }
          val out = new Array[(Long, Long, Long)](nTouched)
          i = 0
          while (i < nTouched) {
            val b = touched(i)
            out(i) = (id, b.toLong, counts(b))
            counts(b) = 0L
            i += 1
          }
          out
        }
      }
      .toDF(idCol, "bucket", "cnt")
  }

  /** Total feature count with a loud empty guard: an empty corpus (or
    * all-empty texts) yields sum(cnt)=null, and a bare getLong would
    * NPE deep in the job instead of naming the problem. */
  private def totalCount(features: DataFrame, what: String): Long = {
    val row = features.agg(sum(col("cnt"))).head
    require(!row.isNullAt(0),
      s"DSIR: $what produced no features (empty corpus or all-empty texts)")
    row.getLong(0)
  }

  /** (bucket, logp): Laplace-smoothed log bucket probabilities of a
    * feature frame — a `buckets`-row aggregate. Buckets with zero count
    * are NOT materialized; join with [[floorLogProb]] as the default. */
  def bucketLogProbs(features: DataFrame, buckets: Int,
      alpha: Double = 1.0): DataFrame = {
    val tot = totalCount(features, "bucketLogProbs input")
    features.groupBy("bucket")
      .agg(log((sum(col("cnt")) + alpha) / (tot + alpha * buckets))
        .as("logp"))
  }

  /** log probability of an unseen bucket under the same smoothing. */
  def floorLogProb(features: DataFrame, buckets: Int,
      alpha: Double = 1.0): Double = {
    val tot = totalCount(features, "floorLogProb input")
    math.log(alpha / (tot + alpha * buckets))
  }

  /** (id, logw): per-document importance weight
    * Σ_b cnt_b · (log p_target(b) − log p_raw(b)). `target` is the
    * small wanted-domain sample; its model (and the raw model — both
    * are ≤ `buckets` rows) broadcasts onto the raw feature frame, which
    * is the only corpus-scale side. */
  def importanceWeights(raw: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String,
      buckets: Int = 8192, alpha: Double = 1.0): DataFrame = {
    // persisted: the raw feature frame is read three times (its total,
    // its bucket model, the weight join) — unpersisted, the gram kernel
    // would re-scan the corpus for each. The projection is (id, bucket,
    // cnt) — the text never enters the cache. Left persisted for the
    // returned frame's execution (the Dedup pattern; callers/benchmarks
    // release via clearCache)
    val rawF = hashedFeatures(raw, idCol, textCol, buckets)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tgtF = hashedFeatures(target, idCol, targetTextCol, buckets)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE action for both totals (a cross join of the two one-row
    // aggregates): the previous per-corpus totalCount() actions each
    // paid a full job's scheduling latency, and this single job also
    // materializes both persists before the weight join reads them
    val trow = rawF.agg(sum(col("cnt")))
      .crossJoin(tgtF.agg(sum(col("cnt")))).head
    require(!trow.isNullAt(0),
      "DSIR: raw corpus produced no features (empty corpus or " +
        "all-empty texts)")
    require(!trow.isNullAt(1),
      "DSIR: target corpus produced no features (empty corpus or " +
        "all-empty texts)")
    val totR = trow.getLong(0)
    val totT = trow.getLong(1)
    val pT = tgtF.groupBy("bucket")
      .agg(log((sum(col("cnt")) + alpha) / (totT + alpha * buckets))
        .as("__lt"))
    val pR = rawF.groupBy("bucket")
      .agg(log((sum(col("cnt")) + alpha) / (totR + alpha * buckets))
        .as("__lr"))
    val fT = math.log(alpha / (totT + alpha * buckets))
    val fR = math.log(alpha / (totR + alpha * buckets))
    rawF
      .join(broadcast(pT), Seq("bucket"), "left")
      .join(broadcast(pR), Seq("bucket"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("cnt") * (coalesce(col("__lt"), lit(fT)) -
        coalesce(col("__lr"), lit(fR)))).as("logw"))
  }

  /** Gumbel score for a weight row: logw/temperature + Gumbel noise from
    * the portable per-id uniform — deterministic across engines and runs
    * (no RNG state), the shared core of both selection modes below. */
  private def gumbelScore(idCol: String, temperature: Double): Column = {
    // (hash + 0.5) / 2^32 keeps u strictly inside (0,1)
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("double") + 0.5) / 4294967296.0
    col("logw") / temperature + (-log(-log(u)))
  }

  /** Exact Gumbel top-k resampling: keep the ⌈frac·n⌉ best scores.
    * temperature → 0 approaches plain top-k by weight; 1.0 is DSIR's
    * sampling-without-replacement. The k-cut is a global limit — every
    * surviving row passes through one task — so the exact mode is
    * capped (loud `require`): it is for oracle-checkable samples and
    * moderate selections. Corpus-fraction selections at scale use
    * [[resampleAboveQuantile]], which cuts by a score threshold and
    * never funnels rows. */
  def resampleTopFrac(weights: DataFrame, idCol: String, frac: Double,
      temperature: Double = 1.0, maxExact: Int = 4194304): DataFrame = {
    require(frac > 0 && frac <= 1, s"frac must be in (0,1], got $frac")
    require(temperature > 0, "temperature must be positive")
    // persist before the sizing count: `weights` is the whole
    // importance-weight pipeline, and without the cache the count ran
    // it once for k and the returned top-k ran it all over again
    // (released via clearCache; this exact mode is row-capped anyway)
    val w = weights.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = w.count()
    val k = math.ceil(frac * n).toLong
    require(k <= maxExact,
      s"exact top-k selection of $k rows exceeds maxExact=$maxExact " +
        "(a global limit single-tasks the survivors); use " +
        "resampleAboveQuantile for corpus-fraction selections")
    w
      .withColumn("score", gumbelScore(idCol, temperature))
      .orderBy(desc("score"), col(idCol))
      .limit(k.toInt)
  }

  /** Scale-path Gumbel resampling: estimate the (1 − frac) score
    * quantile (approxQuantile — bounded-memory Greenwald-Khanna sketch)
    * and keep rows above it. Selection becomes a PURE FILTER — no
    * global sort, no single-task limit, the shape that survives a
    * billion-document corpus — at the cost of ±relErr·n rows around the
    * target size. The scores themselves stay deterministic; only the
    * cut point is approximate. */
  def resampleAboveQuantile(weights: DataFrame, idCol: String,
      frac: Double, temperature: Double = 1.0,
      relErr: Double = 0.001): DataFrame = {
    require(frac > 0 && frac <= 1, s"frac must be in (0,1], got $frac")
    require(temperature > 0, "temperature must be positive")
    val scored = weights
      .withColumn("score", gumbelScore(idCol, temperature))
    if (frac == 1.0) scored
    else {
      val cut = scored.stat
        .approxQuantile("score", Array(1.0 - frac), relErr).head
      scored.filter(col("score") >= cut)
    }
  }
}
