package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** FastText-style hashed bag-of-n-grams text classifier — the quality /
  * domain filter of published curation pipelines (GPT-3's WebText-vs-crawl
  * classifier, DCLM's fastText filter, fineweb-edu's educational scorer):
  * train a linear model on a bounded labeled sample, score the whole
  * corpus, keep what clears a threshold.
  *
  * Two trainers over the same hashed feature space ([[Dsir.hashedFeatures]]
  * — unigram+bigram counts md5-bucketed exactly like fastText's hashing
  * trick, and portable to independent engines):
  *
  *  - [[logCountRatio]]: the closed-form Naive-Bayes log-count-ratio
  *    weights of Wang & Manning 2012 ("simple but tough to beat") — two
  *    shuffles end to end, no iteration, every stage replayable in plain
  *    SQL, which makes corpus-scale scoring oracle-checkable.
  *  - [[trainLogistic]]: full-batch gradient-descent logistic regression
  *    (fastText's actual objective, minus the learned embedding). The
  *    labeled set is bounded by contract (the published recipes label
  *    10⁵–10⁶ docs); its per-doc feature arrays are cached once and each
  *    iteration is one broadcast-weights aggregate pass — no shuffle, no
  *    driver-side data, gradient state is `buckets+1` doubles.
  *
  * Scale shape: training touches only the labeled sample. Corpus-scale
  * work is inference — [[scoreFeatures]] broadcast-joins the ≤`buckets`-row
  * weight table onto the corpus feature frame and sums per doc: one hash
  * shuffle on (doc, bucket) inside hashedFeatures, one on doc for the
  * score, both carrying ≤`buckets` rows per doc. Thresholding is a pure
  * filter. No stage is ever corpus × corpus or corpus-collect.
  */
object Classifier {

  /** Linear model over hashed buckets: score(doc) = prior +
    * Σ_b cnt_b · r_b, with `unseenR` for buckets absent from the
    * training frame (Laplace smoothing defines them; 0.0 for logistic).
    * `weights` is a small (bucket, r) frame — broadcast at scoring.
    * `buckets` is the hash width the model was trained with; scoring
    * re-hashes with it so a train/score width mismatch is impossible. */
  final case class LinearModel(weights: DataFrame, unseenR: Double,
      prior: Double, buckets: Int)

  /** Closed-form NB log-count-ratio weights: r_b = ln p(b|pos) −
    * ln p(b|neg), both Laplace-smoothed, prior = ln(Npos/Nneg) over the
    * LABELED DOC census (gram-less docs still carry their label). The
    * feature frame is persisted for its two passes (class mass, bucket
    * model) and released once the ≤`buckets`-row weight table — small by
    * construction — is pulled local. */
  def logCountRatio(labeled: DataFrame, idCol: String, textCol: String,
      labelCol: String, buckets: Int = 8192,
      alpha: Double = 1.0): LinearModel = {
    require(buckets > 0, "buckets must be positive")
    require(alpha > 0, "alpha must be positive")
    val f = Dsir.hashedFeatures(
        labeled.select(col(idCol), col(textCol)), idCol, textCol, buckets)
      .join(labeled.select(col(idCol),
        col(labelCol).cast("int").as("__y")), idCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE action for the doc census (from the labels — empty classes
      // are a caller error, name it loudly) and the per-class token mass
      // (from the feature frame, whose persist this materializes): the
      // previous two collects each paid a full job's scheduling latency.
      val statRows = labeled
        .groupBy(col(labelCol).cast("int").as("__y"))
        .agg(count(lit(1)).as("__v"))
        .select(lit("docs").as("__k"), col("__y"), col("__v"))
        .unionByName(f.groupBy(col("__y"))
          .agg(sum(col("cnt")).as("__v"))
          .select(lit("mass").as("__k"), col("__y"), col("__v")))
        .collect()
      val docCensus = statRows.filter(_.getString(0) == "docs")
        .map(r => r.getInt(1) -> r.getLong(2)).toMap
      require(docCensus.contains(1) && docCensus.contains(0),
        s"logCountRatio needs both classes in $labelCol; " +
          s"saw ${docCensus.keySet}")
      val mass = statRows.filter(_.getString(0) == "mass")
        .map(r => r.getInt(1) -> r.getLong(2)).toMap
      val posTot = mass.getOrElse(1, 0L)
      val negTot = mass.getOrElse(0, 0L)
      // the ≤buckets-row weight table is collected into a LOCAL relation:
      // the model carries no lineage over the caller's input, so a cache
      // release or an overwritten source cannot change it
      val weightsAgg = f.groupBy(col("bucket"))
        .agg(
          (log((sum(when(col("__y") === 1, col("cnt")).otherwise(0L)) +
            alpha) / (posTot + alpha * buckets)) -
           log((sum(when(col("__y") === 0, col("cnt")).otherwise(0L)) +
            alpha) / (negTot + alpha * buckets))).as("r"))
      val weights = labeled.sparkSession.createDataFrame(
        java.util.Arrays.asList(weightsAgg.collect(): _*), weightsAgg.schema)
      val unseenR = math.log(alpha / (posTot + alpha * buckets)) -
        math.log(alpha / (negTot + alpha * buckets))
      LinearModel(weights, unseenR,
        math.log(docCensus(1).toDouble / docCensus(0)), buckets)
    } finally f.unpersist()
  }

  /** (id, score): prior + Σ cnt·r over a corpus feature frame (from
    * [[Dsir.hashedFeatures]] with `model.buckets`). The weight table
    * broadcasts; the corpus side is the only big frame. Docs absent
    * from the feature frame (no grams) are absent here too — use
    * [[score]] for the every-doc contract. */
  def scoreFeatures(features: DataFrame, idCol: String,
      model: LinearModel): DataFrame =
    features
      .join(broadcast(model.weights), Seq("bucket"), "left")
      .groupBy(col(idCol))
      .agg((sum(col("cnt") * coalesce(col("r"), lit(model.unseenR))) +
        model.prior).as("score"))

  /** Tokenize + hash (with the model's own bucket width) + score a
    * (id, text) corpus. EVERY input doc gets a row: a doc with no grams
    * (empty/whitespace text) scores exactly `prior` — the empty sum —
    * instead of silently vanishing from the keep/drop filter. */
  def score(df: DataFrame, idCol: String, textCol: String,
      model: LinearModel): DataFrame = {
    val scored = scoreFeatures(
      Dsir.hashedFeatures(df.select(col(idCol), col(textCol)), idCol,
        textCol, model.buckets),
      idCol, model)
    df.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("score"), lit(model.prior)).as("score"))
  }

  /** Trained logistic model: dense weights + bias (driver-side arrays —
    * `buckets` doubles, KBs by contract). */
  final case class LogisticModel(bias: Double, w: Array[Double],
      losses: Array[Double]) {
    /** As a [[LinearModel]] for the shared broadcast-join scorer; the
      * weight array's length IS the trained hash width. */
    def linear(spark: org.apache.spark.sql.SparkSession): LinearModel = {
      import spark.implicits._
      val wf = w.iterator.zipWithIndex
        .filter(_._1 != 0.0)
        .map { case (v, b) => (b.toLong, v) }.toSeq
        .toDF("bucket", "r")
      LinearModel(wf, 0.0, bias, w.length)
    }
  }

  /** Full-batch GD on the logistic loss with L2, over hashed features of
    * a BOUNDED labeled sample (loud cap — training is not a corpus-scale
    * stage; see the object doc). Deterministic given the data: fixed
    * iteration count, fixed init (zeros), and a per-doc pre-aggregated
    * sparse representation so the gradient is a sum of bounded arrays.
    * Feature counts are tf-normalized per doc (fastText's mean-of-inputs)
    * so the step size is document-length-invariant. */
  def trainLogistic(labeled: DataFrame, idCol: String, textCol: String,
      labelCol: String, buckets: Int = 4096, iters: Int = 50,
      lr: Double = 0.5, l2: Double = 1e-6,
      maxLabeled: Long = 4194304): LogisticModel = {
    require(buckets > 0 && iters > 0 && lr > 0 && l2 >= 0,
      "buckets/iters/lr must be positive, l2 non-negative")
    val spark = labeled.sparkSession
    import spark.implicits._
    val n = labeled.count()
    require(n > 0, "trainLogistic: empty labeled frame")
    require(n <= maxLabeled,
      s"trainLogistic: $n labeled docs exceeds maxLabeled=$maxLabeled — " +
        "the published recipes train on a bounded sample; label fewer " +
        "docs (or raise the cap knowingly)")
    // (y, buckets[], tf[]) per doc, cached for the iteration loop; the
    // groupBy is the one shuffle of training. Labels LEFT-join features
    // so a labeled doc with no grams (empty/whitespace text) still
    // trains as a bias-only example — fastText's behavior, and score()'s
    // every-doc contract — instead of silently dropping out of nd, the
    // bias gradient, and the loss.
    val docs = labeled
      .select(col(idCol), col(labelCol).cast("double").as("__y"))
      .join(Dsir.hashedFeatures(
          labeled.select(col(idCol), col(textCol)), idCol, textCol,
          buckets),
        Seq(idCol), "left")
      .groupBy(col(idCol), col("__y"))
      .agg(collect_list(when(col("bucket").isNotNull,
        struct(col("bucket"), col("cnt")))).as("fs"))
      .select(col("__y"), col("fs"))
      .as[(Double, Seq[(Long, Long)])]
      .map { case (y, fs) =>
        val tot = fs.iterator.map(_._2).sum.toDouble
        (y, fs.map(_._1.toInt).toArray, fs.map(_._2 / tot).toArray)
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nd = docs.count().toDouble // materialize the cache once
    var w = new Array[Double](buckets)
    var bias = 0.0
    val losses = Array.newBuilder[Double]
    var it = 0
    while (it < iters) {
      val bw = spark.sparkContext.broadcast((w, bias))
      // (grad[buckets], gradBias, loss) in one pass over the cache
      val (grad, gBias, loss) = docs.rdd.treeAggregate(
        (new Array[Double](buckets), 0.0, 0.0))(
        seqOp = { case ((g, gb, l), (y, bs, tfs)) =>
          val (wv, b0) = bw.value
          var m = b0
          var i = 0
          while (i < bs.length) { m += wv(bs(i)) * tfs(i); i += 1 }
          val p = 1.0 / (1.0 + math.exp(-m))
          val resid = p - y
          i = 0
          while (i < bs.length) { g(bs(i)) += resid * tfs(i); i += 1 }
          // log-loss with the numerically safe log1p(exp) form
          val ll =
            if (m >= 0) math.log1p(math.exp(-m)) + (1.0 - y) * m
            else math.log1p(math.exp(m)) - y * m
          (g, gb + resid, l + ll)
        },
        combOp = { case ((g1, gb1, l1), (g2, gb2, l2)) =>
          var i = 0
          while (i < g1.length) { g1(i) += g2(i); i += 1 }
          (g1, gb1 + gb2, l1 + l2)
        })
      bw.destroy()
      val w2 = new Array[Double](buckets)
      var i = 0
      while (i < buckets) {
        w2(i) = w(i) - lr * (grad(i) / nd + l2 * w(i))
        i += 1
      }
      bias -= lr * gBias / nd
      w = w2
      losses += loss / nd
      it += 1
    }
    docs.unpersist()
    LogisticModel(bias, w, losses.result())
  }

  /** χ² feature selection over document-frequency counts — the
    * standard "which terms separate the classes" audit run before
    * training a filter like [[trainLogistic]] (Yang & Pedersen 1997's
    * CHI, the strongest of their five selectors). Per term t with
    * binary label y: a = #docs(t, y=1), b = #docs(t, y=0),
    * c = n₁ − a, d = n₀ − b, and
    * χ² = N(ad − bc)² / ((a+b)(c+d)(a+c)(b+d)). Presence-based
    * (distinct term per doc), tokens = whitespace split of the
    * lowercased text (the [[Bpe.wordFrequencies]] spelling).
    *
    * Output: (term, df, df_pos, chi2) — top `k` by (χ² desc, term),
    * χ² at 6dp. Every input to the one double expression is an exact
    * long, so independent engines agree bit-for-bit. Terms present in
    * EVERY doc are excluded (a zero margin makes χ² undefined);
    * `minDf` bounds the tail. Requires both classes non-empty.
    *
    * Scale shape: one (doc, term)-distinct explode collapsing map-side
    * into a (term)-keyed hash aggregate (two conditional sums); the
    * class totals are one collected two-long row folded in as
    * literals (which also enforces the non-empty contract up front).
    * No join keyed on the corpus, no window. */
  def chi2Terms(df: DataFrame, idCol: String, textCol: String,
      labelCol: String, minDf: Long = 2L, k: Int = 100): DataFrame = {
    require(k > 0 && minDf >= 1, "chi2Terms needs k >= 1, minDf >= 1")
    val y = col(labelCol).cast("long")
    val rows = df.filter(col(textCol).isNotNull && y.isNotNull)
      .select(col(idCol), y.as("__y"),
        explode(array_distinct(filter(
          split(trim(lower(col(textCol))), "\\s+"),
          t => t =!= ""))).as("term"))
    val cells = rows.groupBy(col("term")).agg(
      sum(when(col("__y") === 1L, 1L).otherwise(0L)).as("a"),
      sum(when(col("__y") =!= 1L, 1L).otherwise(0L)).as("b"))
    // class totals collected once (one two-long row) so the
    // documented "both classes non-empty" contract is ENFORCED — with
    // n1 = 0 or n0 = 0 the denominator is 0, χ² goes NaN, and desc
    // ordering would sort NaN first, silently returning k junk rows.
    // Mirrors trainLogistic's docCensus guard.
    val trow = df.filter(col(textCol).isNotNull && y.isNotNull)
      .agg(coalesce(sum(when(y === 1L, 1L).otherwise(0L)), lit(0L)),
        coalesce(sum(when(y =!= 1L, 1L).otherwise(0L)), lit(0L)))
      .collect()(0)
    val (n1v, n0v) = (trow.getLong(0), trow.getLong(1))
    require(n1v > 0 && n0v > 0,
      s"chi2Terms needs both classes non-empty: n1=$n1v, n0=$n0v")
    val n1 = lit(n1v)
    val n0 = lit(n0v)
    val (a, b) = (col("a"), col("b"))
    // doubles from exact longs: the products overflow Long on a real
    // corpus (N·(ad−bc)² reaches ~N⁶), and IEEE doubles evaluate the
    // one expression identically on every engine
    def dbl(x: Column): Column = x.cast("double")
    val scored = cells
      .withColumn("__c", n1 - a)
      .withColumn("__d", n0 - b)
      .filter(a + b >= minDf && col("__c") + col("__d") > 0)
      .withColumn("chi2", round(
        dbl(n1 + n0) *
          (dbl(a) * dbl(col("__d")) - dbl(b) * dbl(col("__c"))) *
          (dbl(a) * dbl(col("__d")) - dbl(b) * dbl(col("__c"))) /
          (dbl(a + b) * dbl(col("__c") + col("__d")) *
            dbl(n1) * dbl(n0)), 6))
    scored
      .select(col("term"), (a + b).as("df"), a.as("df_pos"),
        col("chi2"))
      .orderBy(desc("chi2"), asc("term"))
      .limit(k)
  }
}
