package graft.pipeline

import org.apache.spark.sql.functions._

import graft.{PrefixSumCheck, SparkSpec}

/** Seeded randomized invariants for the round-6 pipeline operators —
  * each property is checked over many generated cases with a FIXED seed
  * (deterministic, no flake budget), probing the input space the
  * hand-written fixtures can't enumerate. */
class FuzzInvariantsSpec extends SparkSpec {
  import spark.implicits._

  // sequential ground truth for packSequences: (id, start_off,
  // sample_id, end_sample_id) walking the docs in id order
  private def packReference(docs: Seq[(Long, Long)], ctx: Int)
      : Seq[(Long, Long, Long, Long)] = {
    var off = 0L
    docs.sortBy(_._1).map { case (id, tok) =>
      val r = (id, off, off / ctx, (off + math.max(tok, 1) - 1) / ctx)
      off += tok
      r
    }
  }

  test("packSequences equals the sequential prefix sum for random " +
      "corpora under random partitionings") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val docs = (1L to (20 + rnd.nextInt(60))).map(i =>
        (i, rnd.nextInt(9).toLong)) // includes zero-token docs
      val ctx = 1 + rnd.nextInt(12)
      val nPart = 1 + rnd.nextInt(7)
      val want = packReference(docs, ctx)
      val got = Curation.packSequences(
        docs.toDF("id", "tok").repartition(nPart), "id", "tok", ctx)
        .orderBy("id")
        .select("id", "start_off", "sample_id", "end_sample_id")
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(got == want, s"trial $trial ctx=$ctx parts=$nPart")
    }
  }

  test("packSequences: two actions, one range shuffle, no cache") {
    val rnd = new scala.util.Random(11)
    val docs = (1L to 400L).map(i => (i, rnd.nextInt(9).toLong))
    val want = packReference(docs, 7)
    PrefixSumCheck(spark)(Curation.packSequences(
        docs.toDF("id", "tok").repartition(5), "id", "tok", 7)) { out =>
      val got = out.select("id", "start_off", "sample_id", "end_sample_id")
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got == want)
      val perWindow = out.groupBy("sample_id").count()
        .as[(Long, Long)].collect().toMap
      assert(perWindow ==
        want.groupBy(_._3).map { case (w, ds) => w -> ds.size.toLong })
    }
  }

  test("BPE segmentation always reconstructs the word exactly") {
    val rnd = new scala.util.Random(7)
    val alpha = "abcd"
    val dict = (1 to 30).map { _ =>
      val w = (1 to 1 + rnd.nextInt(8))
        .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      (w, 1L + rnd.nextInt(20))
    }.groupBy(_._1).map { case (w, xs) => (w, xs.map(_._2).sum) }.toSeq
    val ranks = Bpe.train(dict, 25).zipWithIndex.toMap
    for (_ <- 1 to 200) {
      val w = (1 to 1 + rnd.nextInt(12))
        .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      val toks = Bpe.segmentWord(w, ranks)
      assert(toks.mkString == w, s"word $w -> $toks")
      assert(toks.forall(_.nonEmpty))
    }
  }

  test("DSIR hashed features conserve the gram count: " +
      "sum(cnt) == unigrams + bigrams per doc") {
    val rnd = new scala.util.Random(13)
    val docs = (1L to 30L).map { i =>
      val n = rnd.nextInt(12)
      (i, (1 to n).map(_ => s"w${rnd.nextInt(9)}").mkString(" "))
    }
    val got = Dsir.hashedFeatures(docs.toDF("id", "text"), "id", "text",
      buckets = 32)
      .groupBy("id").agg(sum("cnt").as("s"))
      .as[(Long, Long)].collect().toMap
    docs.foreach { case (id, text) =>
      val n = text.split("\\s+").count(_.nonEmpty)
      val want = if (n == 0) 0L else (n + (n - 1)).toLong
      assert(got.getOrElse(id, 0L) == want, s"doc $id '$text'")
    }
  }

  test("shardOf is stable, in-range, and partitions the id space") {
    val ids = (1L to 500L).toDF("id")
    val shards = ids.select(Curation.shardOf(col("id"), 8).as("s"))
      .as[Long].collect()
    assert(shards.forall(s => s >= 0 && s < 8))
    // every shard populated at n≫shards (md5 uniformity sanity)
    assert(shards.distinct.sorted.toSeq == (0L to 7L))
  }

  test("removeRepeatedSubstrings matches a sequential ExactSubstr " +
      "reference on dense random corpora") {
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 5) {
      val k = 2 + rnd.nextInt(3)
      val vocab = 3 + rnd.nextInt(3) // tiny vocab → dense natural repeats
      // ≥1 token: a zero-token doc tokenizes to [""] by the engine-wide
      // split convention (counted, matching the SQL oracle) while this
      // reference counts none — not the property under test
      val docs = (1L to (8 + rnd.nextInt(12))).map { i =>
        val n = 1 + rnd.nextInt(25)
        (i, (1 to n).map(_ => s"w${rnd.nextInt(vocab)}").mkString(" "))
      }
      // sequential reference: rn>1 ⟺ gram seen earlier in (id, pos)
      // order; islands merge at gap ≤ k; spans [min, max+k) removed
      val seen = scala.collection.mutable.Set[Seq[String]]()
      val want = docs.map { case (id, text) =>
        val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
        val dup = (0 to toks.length - k).filter { p =>
          !seen.add(toks.slice(p, p + k))
        }
        val spans = dup.foldLeft(List.empty[(Int, Int)]) {
          case ((s, e) :: rest, p) if p <= e => (s, p + k) :: rest
          case (acc, p) => (p, p + k) :: acc
        }.reverse
        val covered = spans.flatMap { case (s, e) => s until e }.toSet
        val kept = toks.indices.filterNot(covered).map(toks)
        (id, (kept.mkString(" "), spans.size.toLong,
          covered.size.toLong, kept.size.toLong))
      }.toMap
      val got = Dedup.removeRepeatedSubstrings(
        docs.toDF("id", "text").repartition(1 + rnd.nextInt(5)),
        "id", "text", k)
        .as[(Long, String, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      assert(got == want, s"trial $trial k=$k vocab=$vocab")
    }
  }

  test("Perplexity.score matches a sequential chain-rule reference") {
    val rnd = new scala.util.Random(31)
    val mkDoc = (n: Int) =>
      (1 to n).map(_ => s"w${rnd.nextInt(7)}").mkString(" ")
    val ref = (1L to 10L).map(i => (i, mkDoc(1 + rnd.nextInt(20))))
    val corpus = (1L to 25L).map(i => (i, mkDoc(1 + rnd.nextInt(15))))
    val model = Perplexity.train(ref.toDF("id", "text"), "id", "text")
    // sequential counts
    val uni = scala.collection.mutable.Map[String, Long]()
      .withDefaultValue(0L)
    val bi = scala.collection.mutable.Map[(String, String), Long]()
      .withDefaultValue(0L)
    ref.foreach { case (_, t) =>
      val ts = t.split(" ")
      ts.foreach(w => uni(w) += 1)
      ts.sliding(2).filter(_.length == 2).foreach(p => bi((p(0), p(1))) += 1)
    }
    val n = uni.values.sum.toDouble
    val v = uni.size + 1.0
    assert(model.nTokens == n && model.vocab == v)
    val got = Perplexity.score(corpus.toDF("id", "text"), "id", "text",
      model).select("id", "cross_entropy").as[(Long, Double)]
      .collect().toMap
    corpus.foreach { case (id, t) =>
      val ts = t.split(" ")
      val lps = math.log((uni(ts.head) + 1.0) / (n + v)) +:
        ts.sliding(2).filter(_.length == 2).map(p =>
          math.log((bi((p(0), p(1))) + 1.0) / (uni(p(0)) + v))).toSeq
      val want = -lps.sum / ts.length
      assert(math.abs(got(id) - want) < 1e-9, s"doc $id")
    }
  }

  test("temperature fractions spend exactly the budget when uncapped") {
    val rnd = new scala.util.Random(47)
    for (trial <- 1 to 5) {
      val sizes = (0 until 3 + rnd.nextInt(4)).map(d =>
        s"d$d" -> (50 + rnd.nextInt(200))).toMap
      val rows = sizes.toSeq.flatMap { case (d, n) =>
        (1 to n).map(i => (s"$d-$i", d))
      }
      val temp = 1.0 + rnd.nextDouble() * 3
      // budget small enough that no stratum can hit the frac=1 cap
      val budget = 1L + rnd.nextInt(sizes.values.min)
      val fr = Curation.temperatureMixFractions(
        rows.toDF("key", "dom"), "dom", temp, budget)
      assert(fr.values.forall(f => f > 0 && f < 1))
      val spent = fr.map { case (d, f) => f * sizes(d) }.sum
      assert(math.abs(spent - budget) < 1e-9,
        s"trial $trial spent=$spent budget=$budget")
    }
  }
}
