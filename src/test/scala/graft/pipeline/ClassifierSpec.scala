package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ClassifierSpec extends SparkSpec {
  import spark.implicits._

  private val B = 4096

  test("logCountRatio weights match the hand-derived NB formula") {
    // pos mass: spark×2, shuffle, "spark spark", "spark shuffle" = 5
    // neg mass: oven, butter, "oven butter" = 3
    val labeled = Seq(
      (1L, "spark spark shuffle", 1),
      (2L, "oven butter", 0)).toDF("id", "text", "y")
    val m = Classifier.logCountRatio(labeled, "id", "text", "y", B)
    // the test grams must not collide for the hand math to hold
    val gb = Seq("spark", "shuffle", "oven", "butter", "spark spark",
      "spark shuffle", "oven butter").toDF("g")
      .select(col("g"), Dsir.gramBucket(col("g"), B).as("b"))
      .as[(String, Long)].collect().toMap
    assert(gb.values.toSet.size == gb.size, s"gram-bucket collision: $gb")
    val w = m.weights.as[(Long, Double)].collect().toMap
    def r(pc: Long, nc: Long): Double =
      math.log((pc + 1.0) / (5 + B)) - math.log((nc + 1.0) / (3 + B))
    assert(math.abs(w(gb("spark")) - r(2, 0)) < 1e-12)
    assert(math.abs(w(gb("oven")) - r(0, 1)) < 1e-12)
    assert(math.abs(m.unseenR - r(0, 0)) < 1e-12)
    assert(m.prior == 0.0) // one doc per class
  }

  test("score separates classes and handles unseen grams via the floor") {
    val labeled = Seq(
      (1L, "spark shuffle partition executor", 1),
      (2L, "spark partition spark memory", 1),
      (3L, "oven butter sugar flour", 0),
      (4L, "recipe oven sugar", 0)).toDF("id", "text", "y")
    val m = Classifier.logCountRatio(labeled, "id", "text", "y", B)
    val s = Classifier.score(Seq(
        (10L, "spark executor shuffle"),
        (11L, "butter flour recipe"),
        (12L, "zzz qqq")). // nothing seen in training
      toDF("id", "text"), "id", "text", m)
      .as[(Long, Double)].collect().toMap
    assert(s(10L) > 0 && s(11L) < 0, s"scores: $s")
    // all-unseen doc: prior + Σ cnt·unseenR (3 grams: 2 uni + 1 bi)
    assert(math.abs(s(12L) - (m.prior + 3 * m.unseenR)) < 1e-9)
    // gram-less doc still gets a row: the empty sum = prior exactly
    val empty = Classifier.score(Seq((13L, "   "), (14L, "spark"))
      .toDF("id", "text"), "id", "text", m)
      .as[(Long, Double)].collect().toMap
    assert(empty(13L) == m.prior && empty.contains(14L))
    // deterministic across runs
    val again = Classifier.score(Seq((10L, "spark executor shuffle"))
      .toDF("id", "text"), "id", "text", m)
      .as[(Long, Double)].collect().head._2
    assert(again == s(10L))
  }

  test("logCountRatio's model is a local table: clearCache between " +
      "training and scoring leaves the scores unchanged") {
    val labeled = Seq(
      (1L, "spark shuffle partition executor", 1),
      (2L, "spark partition spark memory", 1),
      (3L, "oven butter sugar flour", 0),
      (4L, "recipe oven sugar", 0)).toDF("id", "text", "y")
    val sc = spark.sparkContext
    val cachedBefore = sc.getPersistentRDDs.size
    val m = Classifier.logCountRatio(labeled, "id", "text", "y", B)
    // the feature frame is released; the weights carry no lineage
    assert(sc.getPersistentRDDs.size <= cachedBefore)
    assert(m.weights.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val corpus = Seq((10L, "spark executor shuffle"),
      (11L, "butter flour recipe")).toDF("id", "text")
    def scores() = Classifier.score(corpus, "id", "text", m)
      .as[(Long, Double)].collect().toMap
    val before = scores()
    spark.catalog.clearCache()
    assert(scores() == before)
    assert(sc.getPersistentRDDs.size <= cachedBefore)
  }

  test("logCountRatio refuses a single-class frame, loudly") {
    val e = intercept[IllegalArgumentException] {
      Classifier.logCountRatio(
        Seq((1L, "a b", 1), (2L, "c d", 1)).toDF("id", "text", "y"),
        "id", "text", "y", B)
    }
    assert(e.getMessage.contains("both classes"))
  }

  test("trainLogistic drives the loss down and separates planted classes") {
    val labeled = (0L until 40L).map { i =>
      if (i % 2 == 0) (i, "spark shuffle partition executor stage task", 1)
      else (i, "oven butter sugar flour recipe whisk", 0)
    }.toDF("id", "text", "y")
    val m = Classifier.trainLogistic(labeled, "id", "text", "y",
      buckets = 512, iters = 150, lr = 2.0)
    assert(m.losses.last < m.losses.head / 4,
      s"loss ${m.losses.head} -> ${m.losses.last}")
    val s = Classifier.score(
      Seq((100L, "spark stage shuffle"), (101L, "butter whisk sugar"))
        .toDF("id", "text"),
      "id", "text", m.linear(spark))
      .as[(Long, Double)].collect().toMap
    assert(s(100L) > 0 && s(101L) < 0, s"scores: $s")
  }

  test("trainLogistic matches a sequential reference implementation") {
    val labeled = Seq(
      (1L, "spark shuffle spark", 1),
      (2L, "partition executor", 1),
      (3L, "oven butter oven", 0),
      (4L, "sugar flour butter", 0),
      (5L, "spark oven", 1)).toDF("id", "text", "y")
    val buckets = 256
    val iters = 25
    val lr = 0.7
    val l2 = 1e-4
    val m = Classifier.trainLogistic(labeled, "id", "text", "y",
      buckets, iters, lr, l2)
    // reference: same features (via the same kernel), plain Scala loop
    val docs = Dsir.hashedFeatures(
        labeled.select("id", "text"), "id", "text", buckets)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).toSeq
      .map { case (id, fs) =>
        val y = if (id == 3L || id == 4L) 0.0 else 1.0
        val tot = fs.map(_._3).sum.toDouble
        (y, fs.map(_._2.toInt).toArray, fs.map(_._3 / tot).toArray)
      }
    var w = new Array[Double](buckets)
    var bias = 0.0
    for (_ <- 0 until iters) {
      val grad = new Array[Double](buckets)
      var gb = 0.0
      for ((y, bs, tfs) <- docs) {
        var margin = bias
        for (i <- bs.indices) margin += w(bs(i)) * tfs(i)
        val resid = 1.0 / (1.0 + math.exp(-margin)) - y
        for (i <- bs.indices) grad(bs(i)) += resid * tfs(i)
        gb += resid
      }
      val w2 = new Array[Double](buckets)
      for (i <- 0 until buckets)
        w2(i) = w(i) - lr * (grad(i) / docs.size + l2 * w(i))
      bias -= lr * gb / docs.size
      w = w2
    }
    assert(math.abs(m.bias - bias) < 1e-9, s"bias ${m.bias} vs $bias")
    val maxDiff = m.w.iterator.zip(w.iterator).map {
      case (a, b) => math.abs(a - b)
    }.max
    assert(maxDiff < 1e-9, s"weight divergence $maxDiff")
  }

  test("trainLogistic trains bias on gram-less docs instead of " +
      "dropping them") {
    // one empty positive doc alone: the old inner-join shape dropped it
    // (nd = 0 → NaN model); a bias-only gradient must push bias > 0
    val solo = Classifier.trainLogistic(
      Seq((1L, "   ", 1)).toDF("id", "text", "y"),
      "id", "text", "y", buckets = 64, iters = 20, lr = 0.5)
    assert(solo.bias > 0, s"bias ${solo.bias}")
    assert(solo.losses.forall(l => !l.isNaN))
    // mixed corpus: the empty negative doc shifts the bias DOWN vs the
    // same corpus without it — it participates in nd and the gradient
    val base = Seq((1L, "spark shuffle", 1), (2L, "butter sugar", 0))
    val without = Classifier.trainLogistic(base.toDF("id", "text", "y"),
      "id", "text", "y", buckets = 64, iters = 20, lr = 0.5)
    val withEmpty = Classifier.trainLogistic(
      (base :+ ((3L, "", 0))).toDF("id", "text", "y"),
      "id", "text", "y", buckets = 64, iters = 20, lr = 0.5)
    assert(withEmpty.bias < without.bias,
      s"${withEmpty.bias} !< ${without.bias}")
  }

  test("trainLogistic caps the labeled sample, loudly") {
    val e = intercept[IllegalArgumentException] {
      Classifier.trainLogistic(
        Seq((1L, "a", 1), (2L, "b", 0), (3L, "c", 1)).toDF("id", "text", "y"),
        "id", "text", "y", buckets = 64, maxLabeled = 2)
    }
    assert(e.getMessage.contains("maxLabeled"))
  }

  test("chi2Terms matches the hand-computed 2x2 chi-square per term, " +
      "ranks class-pure terms first, and presence is per-doc distinct") {
    // label 1: {apple banana}, {apple cherry}; label 0: {dog banana},
    // {dog egg}. apple/dog are class-pure (chi2 = 4 at N = 4),
    // cherry/egg one-sided (4·(2)²/12 = 1.333333), banana uninformative
    // (ad = bc → 0). "apple apple" would double-count without the
    // per-doc distinct.
    val docs = Seq(
      (1L, "apple apple banana", 1L), (2L, "apple cherry", 1L),
      (3L, "dog banana", 0L), (4L, "dog egg", 0L))
      .toDF("id", "text", "y")
    val out = Classifier.chi2Terms(docs, "id", "text", "y",
      minDf = 1L, k = 10)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      ("apple", 2L, 2L, 4.0), ("dog", 2L, 0L, 4.0),
      ("cherry", 1L, 1L, 1.333333), ("egg", 1L, 0L, 1.333333),
      ("banana", 2L, 1L, 0.0)))
    // minDf prunes the df-1 tail; k caps the ranking
    val pruned = Classifier.chi2Terms(docs, "id", "text", "y",
      minDf = 2L, k = 1)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(pruned == Seq(("apple", 2L, 2L, 4.0)))
    // a single-class corpus fails LOUDLY instead of ranking NaN terms
    val oneClass = intercept[IllegalArgumentException](
      Classifier.chi2Terms(docs.filter($"y" === 1L), "id", "text",
        "y", minDf = 1L, k = 10))
    assert(oneClass.getMessage.contains("non-empty"))
  }
}
