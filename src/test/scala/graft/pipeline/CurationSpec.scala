package graft.pipeline

import org.apache.spark.sql.functions._

import graft.{PrefixSumCheck, SparkSpec}

class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("shingles of a text shorter than n is empty, not garbage") {
    val out = Seq(("a b", 0)).toDF("text", "x")
      .select(Dedup.shingles(col("text"), 3).as("s"))
      .as[Seq[String]].head()
    assert(out.isEmpty)
    val ng = Seq(("a b", 0)).toDF("text", "x")
      .select(Curation.ngramList(col("text"), 13).as("s"))
      .as[Seq[String]].head()
    assert(ng.isEmpty)
  }

  test("ngramList keeps document order and repeats") {
    val out = Seq(("a b a b", 0)).toDF("text", "x")
      .select(Curation.ngramList(col("text"), 2).as("s"))
      .as[Seq[String]].head()
    assert(out == Seq("a b", "b a", "a b"))
  }

  test("contaminationHits flags overlap, counts distinct grams") {
    val docs = Seq(
      (1L, "one two three four five six seven"), // shares 4-grams w/ bench
      (2L, "totally different words here nothing shared at all"),
      (3L, "one two three")) // shorter than n — no grams, never flagged
      .toDF("doc_id", "text")
    val bench = Seq("zero one two three four five six seven eight")
      .toDF("btext")
    val hits = Curation.contaminationHits(docs, "doc_id", "text",
      bench, "btext", n = 4)
      .as[(Long, Long)].collect().toMap
    // doc 1 grams: [1-4],[2-5],[3-6],[4-7] — all inside the bench span
    assert(hits == Map(1L -> 4L))
  }

  test("contaminationByBench attributes hits per benchmark; a gram " +
      "shared by two benchmarks counts toward each") {
    val docs = Seq(
      (1L, "one two three four five"),      // inside both benches
      (2L, "alpha beta gamma delta"),       // inside evalB only
      (3L, "clean unrelated words entirely")).toDF("doc_id", "text")
    val bench = Seq(
      ("evalA", "one two three four five six"),
      ("evalB", "one two three four five"),
      ("evalB", "alpha beta gamma delta epsilon")).toDF("b", "t")
    val out = Curation.contaminationByBench(docs, "doc_id", "text",
        bench, "b", "t", n = 4)
      .orderBy("doc_id", "benchmark")
      .as[(Long, String, Long)].collect().toSeq
    assert(out == Seq((1L, "evalA", 2L), (1L, "evalB", 2L),
      (2L, "evalB", 1L)))
  }

  test("percentileRank matches SQL percent_rank/cume_dist semantics " +
      "from the cell ladder: ties share ranks, groups independent, " +
      "single-row group answers 0") {
    val df = Seq(("a", 1L, 10.0), ("a", 2L, 20.0), ("a", 3L, 20.0),
      ("a", 4L, 30.0), ("b", 5L, 7.0))
      .toDF("g", "id", "v")
    val out = Curation.percentileRank(df, Seq("g"), "v")
      .orderBy("id")
      .select("id", "pct_rank", "cume_dist")
      .as[(Long, Double, Double)].collect().toSeq
    // group a (n=4): v=10 rank 1 → 0; the 20-tie rank 2 → 1/3;
    // v=30 rank 4 → 1. cume: 0.25, 0.75, 0.75, 1.0
    assert(out == Seq((1L, 0.0, 0.25), (2L, 0.333333, 0.75),
      (3L, 0.333333, 0.75), (4L, 1.0, 1.0), (5L, 0.0, 1.0)))
  }

  test("matchMixture: the binding group keeps everything, other " +
      "groups thin toward the stated ratio, absent groups drop, and " +
      "the draw is reproducible") {
    // en:400 de:100 fr:25 xx:50 with parts en:2 de:1 fr:1 (S=4):
    // M = min(400·4/2, 100·4/1, 25·4/1) = 100 → binding group fr
    // keeps all 25; en targets 50, de targets 25; xx (no part) drops
    val rows = (1L to 400L).map(i => (i, "en")) ++
      (401L to 500L).map(i => (i, "de")) ++
      (501L to 525L).map(i => (i, "fr")) ++
      (526L to 575L).map(i => (i, "xx"))
    val df = rows.toDF("doc_id", "lang")
    val parts = Seq("en" -> 2L, "de" -> 1L, "fr" -> 1L)
    val kept = Curation.matchMixture(df, "doc_id", "lang", parts)
      .as[(Long, String)].collect().toSeq
    val byLang = kept.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byLang("fr") == 25)                  // rate exactly 1
    assert(!byLang.contains("xx"))              // not in the spec
    // binomial around the 50/25 targets — generous 3σ bounds
    assert(math.abs(byLang("en") - 50) <= 21, byLang.toString)
    assert(math.abs(byLang("de") - 25) <= 14, byLang.toString)
    // reproducible: the identical draw twice
    val again = Curation.matchMixture(df, "doc_id", "lang", parts)
      .as[(Long, String)].collect().toSeq
    assert(kept.sortBy(_._1) == again.sortBy(_._1))
    // loud contract checks
    intercept[IllegalArgumentException](
      Curation.matchMixture(df, "doc_id", "lang", Seq("en" -> 0L)))
    intercept[IllegalArgumentException](
      Curation.matchMixture(df, "doc_id", "lang",
        Seq("en" -> 1L, "en" -> 2L)))
    // a part naming a group with zero corpus rows fails LOUDLY (the
    // mixture can't be matched) and the error names the group
    val missing = intercept[IllegalArgumentException](
      Curation.matchMixture(df, "doc_id", "lang",
        Seq("en" -> 1L, "sw" -> 1L)))
    assert(missing.getMessage.contains("sw"))
  }

  test("repairSplitLeakage: leaking groups land in the min-id " +
      "member's split, clean rows keep theirs, null text keeps its " +
      "own split") {
    val df = Seq(
      (1L, "same text", "train"), (2L, "same text", "test"),  // leak
      (3L, "unique", "val"),
      (5L, "also same", "test"), (4L, "also same", "train"),  // min 4
      (6L, null.asInstanceOf[String], "val"))
      .toDF("id", "text", "split")
    val out = Curation.repairSplitLeakage(df, "id", "text", "split")
      .orderBy("id")
      .as[(Long, String, String, Boolean)].collect().toSeq
    assert(out == Seq(
      (1L, "train", "train", false),
      (2L, "test", "train", true),   // pulled to min-id 1's split
      (3L, "val", "val", false),
      (4L, "train", "train", false),
      (5L, "test", "train", true),   // min id 4 wins, not row order
      (6L, "val", "val", false)))    // null content: own split
  }

  test("percentileRank audits the ladder before broadcasting: an " +
      "unquantized score past the bound throws loudly instead of " +
      "building a corpus-sized broadcast") {
    val df = (1 to 20).map(i => ("g", i.toLong, i / 7.0))
      .toDF("g", "id", "v")
    val e = intercept[IllegalArgumentException] {
      Curation.percentileRank(df, Seq("g"), "v",
        maxDistinct = 10L).collect()
    }
    assert(e.getMessage.contains("quantize the score first"))
    val eg = intercept[IllegalArgumentException] {
      Curation.percentileRank(df, Seq("g"), "v",
        maxDistinct = 100L, maxGlobalDistinct = 10L).collect()
    }
    assert(eg.getMessage.contains("broadcast ladder"))
    // within bounds: same data passes untouched
    assert(Curation.percentileRank(df, Seq("g"), "v").count() == 20L)
  }

  test("splitLeakage surfaces exact-duplicate content spanning " +
      "splits and stays silent on clean assignments") {
    val df = Seq(
      (1L, "same text", "train"), (2L, "same text", "test"), // leak
      (3L, "dup inside one split", "train"),
      (4L, "dup inside one split", "train"),                  // no leak
      (5L, "unique", "val")).toDF("id", "text", "split")
    val out = Curation.splitLeakage(df, "id", "text", "split")
      .collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("n_copies") == 2L &&
      out.head.getAs[Long]("n_splits") == 2L &&
      out.head.getAs[Long]("min_id") == 1L)
  }

  test("decontaminated removes flagged docs only") {
    val docs = Seq(
      (1L, "one two three four five"),
      (2L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val bench = Seq("one two three four five six").toDF("btext")
    val kept = Curation.decontaminated(docs, "doc_id", "text",
      bench, "btext", n = 5).select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(2L))
  }

  test("repetitionSignals on a fully repetitive doc") {
    // "a b a b a b": 2-grams a·b ×3, b·a ×2 → top = 3·2/6 = 1.0;
    // 3-grams aba ×2, bab ×2 → all 4 instances duplicated → 1.0;
    // 2-word chunks: "a b" ×3 → 1.0
    val out = Curation.repetitionSignals(
      Seq((1L, "a b a b a b")).toDF("doc_id", "text"),
      "doc_id", "text", chunkWords = 2)
      .as[(Long, Double, Double, Double)].head()
    assert(out == ((1L, 1.0, 1.0, 1.0)))
  }

  test("repetitionSignals on an all-distinct doc is zero except top2") {
    // every 2-gram unique → max count 1 → top = 1·2/5 = 0.4; no dup
    // 3-grams; chunks (2 words) all distinct
    val out = Curation.repetitionSignals(
      Seq((1L, "v w x y z")).toDF("doc_id", "text"),
      "doc_id", "text", chunkWords = 2)
      .as[(Long, Double, Double, Double)].head()
    assert(out == ((1L, 0.4, 0.0, 0.0)))
  }

  test("chunkForTraining covers every token; overlap windows align") {
    // 7 tokens, window 4, overlap 1 → stride 3, ⌈6/3⌉ = 2 chunks
    val out = Curation.chunkForTraining(
      Seq((1L, "a b c d e f g")).toDF("doc_id", "text"),
      "doc_id", "text", maxTokens = 4, overlap = 1)
      .orderBy("chunk_idx")
      .select("chunk_idx", "chunk_tokens", "chunk_text")
      .as[(Long, Long, String)].collect().toSeq
    assert(out == Seq((0L, 4L, "a b c d"), (1L, 4L, "d e f g")))
    // short doc → one (possibly short) chunk
    val short = Curation.chunkForTraining(
      Seq((1L, "a b")).toDF("doc_id", "text"),
      "doc_id", "text", maxTokens = 4, overlap = 1)
      .select("chunk_tokens", "chunk_text").as[(Long, String)].head()
    assert(short == ((2L, "a b")))
  }

  test("stratifiedSample is deterministic and honors fractions") {
    val df = (1L to 400L).map(i => (i, s"src${i % 4}"))
      .toDF("doc_id", "source")
    val frac = Map("src0" -> 1.0, "src1" -> 0.0)
    def run() = Curation.stratifiedSample(df, "source", "doc_id", frac,
      defaultFraction = 0.5).select("doc_id").as[Long].collect().toSet
    val a = run()
    assert(a == run()) // same rows every time
    assert(a.count(_ % 4 == 0) == 100) // src0 fully kept
    assert(!a.exists(_ % 4 == 1)) // src1 dropped
    val dflt = a.count(i => i % 4 == 2 || i % 4 == 3)
    assert(dflt > 60 && dflt < 140) // ~0.5 of the 200 default rows
  }

  test("temperatureMixFractions realizes the n^(1/T) distribution") {
    // strata of 300 / 90 / 10 rows
    val df = (1L to 400L).map(i =>
      (i, if (i <= 300) "big" else if (i <= 390) "mid" else "small"))
      .toDF("doc_id", "source")
    // T = 1: proportional — every stratum keeps budget/N
    val t1 = Curation.temperatureMixFractions(df, "source", 1.0, 100L)
    assert(t1.values.forall(f => math.abs(f - 0.25) < 1e-12))
    // T = 2: weights sqrt(n) = (17.32, 9.49, 3.16); small strata keep a
    // larger share of themselves than big ones
    val t2 = Curation.temperatureMixFractions(df, "source", 2.0, 100L)
    val w = Map("big" -> math.sqrt(300.0), "mid" -> math.sqrt(90.0),
      "small" -> math.sqrt(10.0))
    val tot = w.values.sum
    w.foreach { case (d, wd) =>
      val n = Map("big" -> 300.0, "mid" -> 90.0, "small" -> 10.0)(d)
      assert(math.abs(t2(d) - math.min(1.0, 100 * (wd / tot) / n)) < 1e-12)
    }
    assert(t2("small") > t2("mid") && t2("mid") > t2("big"))
    // huge budget: fractions cap at 1, never above
    val cap = Curation.temperatureMixFractions(df, "source", 2.0, 100000L)
    assert(cap.values.forall(_ == 1.0))
  }

  test("curateCorpus drops each planted family at its stage") {
    val good = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, good), // survives
      (2L, good), // exact dup of 1 → dedup drops
      (3L, "one two three four five six seven eight nine ten eleven " +
        "twelve thirteen fourteen"), // overlaps bench → decontam drops
      (4L, "rho sigma tau upsilon phi rho sigma tau upsilon phi " +
        "rho sigma tau upsilon phi"), // repeated grams → repetition drops
      (5L, "mu nu xi omicron pi sigma phi chi psi omega lambda kappa"))
      .toDF("doc_id", "text")
    val bench = Seq("zero one two three four five six seven eight nine " +
      "ten eleven twelve thirteen fourteen fifteen").toDF("btext")
    val out = Curation.curateCorpus(docs, "doc_id", "text", bench, "btext",
      minQuality = 0.5, maxDup3GramFrac = 0.3,
      decontamN = 13, chunkTokens = 8, chunkOverlap = 2)
    val ids = out.select("doc_id").distinct().as[Long].collect().toSet
    assert(ids == Set(1L, 5L))
    // 10/12-token docs, 8-token windows, stride 6 → 2 chunks each
    val chunks = out.select("doc_id", "chunk_idx", "chunk_tokens")
      .as[(Long, Long, Long)].collect().toSet
    assert(chunks == Set((1L, 0L, 8L), (1L, 1L, 4L),
      (5L, 0L, 8L), (5L, 1L, 6L)))
  }

  test("packSequences lays out the global token stream and marks " +
      "straddling docs, independent of input partitioning") {
    import org.apache.spark.sql.functions._
    // tokens: 4, 3, 5, 2 in id order → offsets 0, 4, 7, 12; ctx=5 →
    // samples 0,0,1,2; doc 2 (off 7, 5 toks → last tok 11) straddles
    // windows 1..2, doc 1 (off 4, 3 toks → last 6) straddles 0..1
    val docs = Seq((1L, 4L), (2L, 3L), (3L, 5L), (4L, 2L))
      .toDF("id", "tok").repartition(3) // deliberately scrambled
    val r = Curation.packSequences(docs, "id", "tok", 5)
      .orderBy("id")
      .select("id", "start_off", "sample_id", "end_sample_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(r == Seq((1L, 0L, 0L, 0L), (2L, 4L, 0L, 1L),
      (3L, 7L, 1L, 2L), (4L, 12L, 2L, 2L)))
    // zero-token doc occupies no window beyond its start
    val z = Curation.packSequences(
      Seq((1L, 0L), (2L, 7L)).toDF("id", "tok"), "id", "tok", 5)
      .orderBy("id").select("sample_id", "end_sample_id")
      .as[(Long, Long)].collect().toSeq
    assert(z == Seq((0L, 0L), (0L, 1L)))
  }

  test("writeShards lays out shard dirs matching shardOf; manifest " +
      "agrees with the files") {
    import org.apache.spark.sql.functions._
    val dirF = java.nio.file.Files.createTempDirectory("shards").toFile
    dirF.deleteOnExit()
    val dir = dirF.getAbsolutePath
    val docs = (1L to 40L).map(i => (i, i % 7 + 1)).toDF("id", "tok")
    Curation.writeShards(docs, "id", dir, shards = 4)
    val back = spark.read.parquet(dir)
    // every row landed in the shard its id hashes to
    assert(back.filter(col("shard") =!=
      Curation.shardOf(col("id"), 4)).count() == 0)
    assert(back.count() == 40)
    // the manifest computed WITHOUT writing matches the written files
    val m = Curation.shardManifest(docs, "id", "tok", 4)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val fromFiles = back.groupBy("shard")
      .agg(count(lit(1)).as("n"), sum("tok").as("t"),
        min("id").as("a"), max("id").as("b"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(m == fromFiles)
  }

  test("writeShards with writersPerShard splits a shard across tasks " +
      "but keeps the shard=K layout and contents") {
    import org.apache.spark.sql.functions._
    val dirF = java.nio.file.Files.createTempDirectory("shardsp").toFile
    dirF.deleteOnExit()
    val dir = dirF.getAbsolutePath
    val docs = (1L to 400L).map(i => (i, i % 7 + 1)).toDF("id", "tok")
    Curation.writeShards(docs, "id", dir, shards = 2,
      maxRecordsPerFile = 1000000L, writersPerShard = 8)
    val back = spark.read.parquet(dir)
    assert(back.count() == 400)
    assert(back.filter(col("shard") =!=
      Curation.shardOf(col("id"), 2)).count() == 0)
    // parallel writers → more than one file per shard directory (the
    // salt is id-hash-deterministic, so this layout is stable)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("shard="))
      .map(d => d.getName ->
        d.listFiles().count(_.getName.endsWith(".parquet")))
      .toMap
    assert(files.keySet == Set("shard=0", "shard=1"))
    assert(files.values.forall(_ > 1), s"expected parallel files: $files")
    // identical logical content to the single-writer layout
    val single = java.nio.file.Files.createTempDirectory("shards1").toFile
    single.deleteOnExit()
    Curation.writeShards(docs, "id", single.getAbsolutePath, shards = 2)
    val a = back.orderBy("id").collect().toSeq
    val b = spark.read.parquet(single.getAbsolutePath)
      .orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("hashUniform matches the portable md5-prefix definition") {
    val u = Seq(("42", 0)).toDF("k", "x")
      .select(Curation.hashUniform(col("k")).as("u")).as[Double].head()
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("42".getBytes("UTF-8")).take(4)
      .foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
    assert(math.abs(u - md.toDouble / 4294967296.0) < 1e-12)
    assert(u >= 0.0 && u < 1.0)
  }

  test("domainCap keeps the top-cap rows per domain by (priority DESC, " +
      "id ASC), invariant to partitioning") {
    val df = Seq(
      // domain a: 4 rows, priorities 9,7,7,3 — cap 2 keeps 9 and the
      // SMALLER-id 7 (tie-break)
      (1L, "a", 7L), (2L, "a", 9L), (3L, "a", 7L), (4L, "a", 3L),
      // domain b: under the cap, all kept
      (5L, "b", 1L),
      // domain c: exactly at the cap
      (6L, "c", 5L), (7L, "c", 4L))
      .toDF("id", "dom", "pri")
    val kept = Curation.domainCap(df, "dom", "pri", "id", cap = 2)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(2L, 1L, 5L, 6L, 7L))
    // full rows survive (semi-join keeps the input schema)
    assert(Curation.domainCap(df, "dom", "pri", "id", 2).columns.toSeq ==
      Seq("id", "dom", "pri"))
    val repartitioned = Curation
      .domainCap(df.repartition(5), "dom", "pri", "id", 2)
      .select("id").as[Long].collect().toSet
    assert(repartitioned == kept)
    intercept[IllegalArgumentException] {
      Curation.domainCap(df, "dom", "pri", "id", 0)
    }
    // ids reused ACROSS domains must not leak keeps between them: id 1
    // wins in domain a but loses in domain b — the (domain, id)
    // semi-join may not resurrect b's rejected row
    val reused = Seq(
      (1L, "a", 9L), (2L, "a", 1L),
      (1L, "b", 1L), (3L, "b", 9L), (4L, "b", 8L))
      .toDF("id", "dom", "pri")
    val keptPairs = Curation.domainCap(reused, "dom", "pri", "id", 2)
      .select("dom", "id").as[(String, Long)].collect().toSet
    assert(keptPairs ==
      Set(("a", 1L), ("a", 2L), ("b", 3L), ("b", 4L)))
  }

  test("c4Clean line rules: punct, word count, javascript, policy") {
    val page = Seq(
      "this is a fine sentence.",          // kept
      "this line has no terminal mark",    // dropped: no punctuation
      "hi there.",                         // dropped: < 3 words
      "our scripts use javascript today.", // dropped: javascript
      "we updated our privacy policy today.", // dropped: policy phrase
      "she shouted \"run!\"",              // kept: ends in closing quote
      "one. two. three.").mkString("\n")   // kept: 3 sentences inside
    val out = Curation.c4Clean(
      Seq((1L, page)).toDF("id", "text"), "id", "text",
      minWordsPerLine = 3, minSentences = 0)
      .as[(Long, String, Long, Long, Long)].head()
    assert(out._2 == Seq("this is a fine sentence.",
      "she shouted \"run!\"", "one. two. three.").mkString("\n"))
    assert(out._3 == 7 && out._4 == 3)
    // sentences: 1 (fine sentence) + 1 (run!) + 3 (one two three) = 5
    assert(out._5 == 5)
  }

  test("c4Clean page rules: lorem ipsum, braces, badwords, min sent") {
    val good = (1 to 5).map(i => s"good solid sentence number $i.")
    val docs = Seq(
      (1L, good.mkString("\n")),
      (2L, (good :+ "lorem ipsum dolor sit amet.").mkString("\n")),
      (3L, (good :+ "object = { x }").mkString("\n")),
      (4L, (good :+ "contains verboten stuff today.").mkString("\n")),
      (5L, good.take(4).mkString("\n"))) // only 4 sentences
      .toDF("id", "text")
    val kept = Curation.c4Clean(docs, "id", "text",
      minWordsPerLine = 3, minSentences = 5,
      badWords = Seq("VERBOTEN")) // case-insensitive match
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L))
    // page checks run on the RAW page: doc 3's brace line would have
    // been dropped by the line filter too, but the page still dies
    intercept[IllegalArgumentException] {
      Curation.c4Clean(docs, "id", "text", minWordsPerLine = 0)
    }
  }

  // sequential reference for ppsSystematicSample: walk the md5-ordered
  // cumulative line, count grid hits per row — pure BigInt arithmetic
  private def ppsReference(rows: Seq[(Long, Long)], n: Long)
      : Map[Long, Long] = {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ordered = rows.sortBy { case (id, _) => (md5hex(id.toString), id) }
    val W = BigInt(ordered.map(_._2).sum)
    var cum = BigInt(0)
    val out = scala.collection.mutable.Map[Long, Long]()
    for ((id, w) <- ordered) {
      val a = (cum * 2 * n); val b = ((cum + w) * 2 * n)
      val lo = (a + W - 1) / W
      val hi = (b - 1) / W
      val copies = ((hi + 1) / 2 - lo / 2).toLong
      if (copies >= 1) out(id) = copies
      cum += w
    }
    out.toMap
  }

  test("ppsSystematicSample: exactly n draws, multiplicities match the " +
      "sequential reference, invariant under partitioning") {
    val rows = (1L to 200L).map(i => (i, (i % 23) + 1L)) // varied weights
    val df = rows.toDF("id", "w")
    val got = Curation.ppsSystematicSample(df, "id", "w", 40)
      .select("id", "copies").as[(Long, Long)].collect().toMap
    assert(got.values.sum == 40L) // systematic PPS draws exactly n
    assert(got == ppsReference(rows, 40))
    val re = Curation.ppsSystematicSample(df.repartition(7), "id", "w", 40)
      .select("id", "copies").as[(Long, Long)].collect().toMap
    assert(re == got)
  }

  test("ppsSystematicSample: a row heavier than the stride is hit " +
      "multiple times; zero weights are never selected") {
    val rows = Seq((1L, 0L), (2L, 1000L), (3L, 1L), (4L, 0L), (5L, 3L))
    val got = Curation.ppsSystematicSample(rows.toDF("id", "w"),
        "id", "w", 10).select("id", "copies")
      .as[(Long, Long)].collect().toMap
    assert(got.values.sum == 10L)
    assert(got(2L) >= 9L) // weight 1000/1004 of the line at n=10
    assert(!got.contains(1L) && !got.contains(4L))
    assert(got == ppsReference(rows, 10))
    intercept[IllegalArgumentException] {
      Curation.ppsSystematicSample(
        Seq((1L, -5L)).toDF("id", "w"), "id", "w", 3).collect()
    }
  }

  test("ppsSystematicSample: two actions, one range shuffle, no cache") {
    val rows = (1L to 300L).map(i => (i, (i * 7) % 31))
    val want = ppsReference(rows, 50)
    PrefixSumCheck(spark)(Curation.ppsSystematicSample(
        rows.toDF("id", "w").repartition(3), "id", "w", 50)) { out =>
      assert(out.select("id", "copies").as[(Long, Long)].collect()
        .toMap == want)
      assert(out.agg(sum("copies"), count(lit(1))).as[(Long, Long)]
        .head() == ((50L, want.size.toLong)))
    }
  }

  test("ppsSystematicSample refuses null and fractional weights " +
      "loudly instead of silently dropping or truncating them") {
    // a null weight would never be selected (silent exclusion)
    val nulled = Seq((1L, Some(5L)), (2L, None), (3L, Some(7L)))
      .toDF("id", "w")
    val e1 = intercept[IllegalArgumentException] {
      Curation.ppsSystematicSample(nulled, "id", "w", 3).collect()
    }
    assert(e1.getMessage.contains("null"), e1.getMessage)
    // a fractional weight would truncate through cast('long')
    val frac = Seq((1L, 5.0), (2L, 2.5), (3L, 7.0)).toDF("id", "w")
    val e2 = intercept[IllegalArgumentException] {
      Curation.ppsSystematicSample(frac, "id", "w", 3).collect()
    }
    assert(e2.getMessage.contains("cast to long"), e2.getMessage)
    // integral doubles pass: the cast changes no value
    val ok = Curation.ppsSystematicSample(
      Seq((1L, 5.0), (2L, 3.0)).toDF("id", "w"), "id", "w", 4)
    assert(ok.select(sum("copies")).as[Long].collect().head == 4L)
  }

  test("writeBucketed: two co-bucketed tables sort-merge join with " +
      "ZERO shuffle exchanges — the co-location contract") {
    val docs = (1L to 200L).map(i => (i, s"text $i")).toDF("doc_id", "t")
    val scores = (1L to 200L).map(i => (i, i * 0.5)).toDF("doc_id", "q")
    Curation.writeBucketed(docs, "doc_id", "bk_docs", 4)
    Curation.writeBucketed(scores, "doc_id", "bk_scores", 4)
    // disable broadcast so the tiny fixture takes the sort-merge path
    // a 100-TB corpus join would take (broadcast of a corpus-sized
    // side is the thing bucketing exists to replace)
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bk_docs")
        .join(spark.table("bk_scores"), "doc_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(2000))
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      assert(joined.count() == 200L)
      // a non-bucketed twin of the same join DOES shuffle — the
      // baseline that proves the assertion above is meaningful
      val shuffled = docs.join(scores, "doc_id")
      assert(shuffled.queryExecution.executedPlan.toString
        .contains("Exchange"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
      spark.sql("DROP TABLE IF EXISTS bk_docs")
      spark.sql("DROP TABLE IF EXISTS bk_scores")
    }
  }

  test("gopherRules: each planted pathology trips exactly its rule; " +
      "clean prose at length keeps") {
    val good = (("the quick brown fox jumps over the lazy dog and " +
      "then it decided that it would have a rest with some " +
      "friends of its own kind ") * 3).trim // 66 words, all rules pass
    val df = Seq(
      (1L, good),
      (2L, "the be to of and that have with # # # # # # # #"),
      (3L, "- bullet one here\n- bullet two here\n- bullet three here"),
      (4L, "the first line trails off...\nand the second does too..."),
      (5L, "111 222 333 444 555 666 777 888 999 000"),
      (6L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val out = Curation.gopherRules(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    def flag(i: Int, c: String) = out(i).getBoolean(out(i).fieldIndex(c))
    assert(flag(0, "keep"), out(0).toString)
    assert(!flag(1, "r_symbol_ratio")) // 8 hashes / 16 words = 0.5
    assert(flag(1, "r_required_words")) // all eight present
    assert(!flag(2, "r_bullet_lines")) // 3/3 bullet lines
    assert(!flag(3, "r_ellipsis_lines")) // 2/2 ellipsis enders
    assert(!flag(4, "r_alpha_words")) // 0/10 words alphabetic
    assert(!flag(5, "r_required_words")) // zero required words
    // audit frame keeps failing rows (keep=false), it never filters
    assert(out.length == 6)
    assert(out.count(r => r.getBoolean(r.fieldIndex("keep"))) == 1)
    // measured stats round only AFTER the comparisons
    assert(out(1).getDouble(out(1).fieldIndex("symbol_ratio")) == 0.5)
  }

  test("stratifiedSample keeps exactly n per stratum by md5 order, " +
      "whole strata when smaller, and is partitioning-invariant") {
    val rows = ((1L to 40L).map(i => (i, "a")) ++
      (100L to 102L).map(i => (i, "b"))).toDF("id", "grp")
    val out = Curation.stratifiedSample(rows, Seq("grp"), "id", 5)
      .orderBy("id")
      .as[(Long, String)].collect().toSeq
    assert(out.count(_._2 == "a") == 5)
    assert(out.filter(_._2 == "b").map(_._1) == Seq(100L, 101L, 102L))
    // the chosen five match the definitional md5 order
    val want = (1L to 40L)
      .sortBy(i => java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString)
      .take(5).sorted
    assert(out.filter(_._2 == "a").map(_._1) == want)
    val out2 = Curation.stratifiedSample(rows.repartition(7),
        Seq("grp"), "id", 5)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(out == out2)
  }

  test("assignSplits: fractions land near their targets, assignment " +
      "is growth-stable, and the salt redraws it") {
    val ids = (1L to 2000L).toDF("id")
    val splits = Seq(("train", 0.9), ("val", 0.05), ("test", 0.05))
    val out = Curation.assignSplits(ids, "id", splits, salt = "x")
      .groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(math.abs(out("train") - 1800L) < 100, out.toString)
    assert(out("val") > 40 && out("test") > 40)
    // growth-stable: the first 1000 ids keep their split when 1000
    // more arrive (the property a rand() split lacks)
    val small = Curation.assignSplits((1L to 1000L).toDF("id"), "id",
      splits, salt = "x").as[(Long, String)].collect().toMap
    val big = Curation.assignSplits(ids, "id", splits, salt = "x")
      .as[(Long, String)].collect().toMap
    assert((1L to 1000L).forall(i => small(i) == big(i)))
    // a different salt draws a different assignment
    val re = Curation.assignSplits(ids, "id", splits, salt = "y")
      .as[(Long, String)].collect().toMap
    assert((1L to 2000L).exists(i => big(i) != re(i)))
    // bad fractions refuse loudly
    intercept[IllegalArgumentException] {
      Curation.assignSplits(ids, "id", Seq(("a", 0.5), ("b", 0.4)))
    }
  }

  test("tokenBudgetCut keeps the md5-order prefix whose running " +
      "token total fits the budget — the distributed prefix sum " +
      "matches the definitional single-pass walk, null tokens ride " +
      "as 0, and partitioning doesn't move the cut") {
    val rows = (1L to 200L)
      .map(i => (i, if (i % 17 == 0) None else Some(10L + i % 7)))
      .toDF("id", "tok")
    val out = Curation.tokenBudgetCut(rows, "id", "tok", budget = 600L)
      .orderBy("id")
      .as[(Long, Long, Long)].collect().toSeq
    val want = budgetReference((1L to 200L)
      .map(i => (i, if (i % 17 == 0) 0L else 10L + i % 7)), 600L)
    assert(out == want, s"got ${out.take(5)}… want ${want.take(5)}…")
    val out2 = Curation.tokenBudgetCut(rows.repartition(13), "id",
        "tok", budget = 600L)
      .orderBy("id").as[(Long, Long, Long)].collect().toSeq
    assert(out == out2)
    assert(out.map(_._3).max <= 600L)
  }

  // tokenBudgetCut's definitional walk: sort by (md5(id), id),
  // accumulate, cut; (id, n_tokens, cum_tokens) in id order
  private def budgetReference(rows: Seq[(Long, Long)], budget: Long)
      : Seq[(Long, Long, Long)] = {
    def h(i: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(i.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    rows.sortBy { case (i, _) => (h(i), i) }
      .scanLeft((0L, 0L, 0L)) { case ((_, _, cum), (i, n)) =>
        (i, n, cum + n) }
      .tail.takeWhile(_._3 <= budget)
      .sortBy(_._1)
  }

  test("tokenBudgetCut: two actions, one range shuffle, no cache") {
    val rows = (1L to 400L).map(i => (i, 5L + i % 11))
    val want = budgetReference(rows, 2000L)
    PrefixSumCheck(spark)(Curation.tokenBudgetCut(
        rows.toDF("id", "tok").repartition(4), "id", "tok", 2000L)) {
      out =>
        assert(out.as[(Long, Long, Long)].collect().sortBy(_._1).toSeq ==
          want)
        assert(out.agg(max("cum_tokens"), count(lit(1)))
          .as[(Long, Long)].head() == ((want.map(_._3).max,
            want.size.toLong)))
    }
  }
}
