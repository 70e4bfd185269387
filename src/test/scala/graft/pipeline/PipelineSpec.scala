package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bend"),
    (3L, "completely different text about spark query engines and shuffles"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (5L, "another unrelated document mentioning parquet files and columns"))

  test("exact dedup groups identical normalized text") {
    val out = Dedup.exact(base.toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("keep_id").collect()
    assert(out.length == 4) // 1&4 merge
    val merged = out.find(_.getAs[Long]("keep_id") == 1L).get
    assert(merged.getAs[Long]("n_dups") == 2L)
  }

  test("minhash LSH finds near-dup and exact-dup pairs") {
    val pairs = Dedup.minhashLsh(base.toDF("doc_id", "text"),
      "doc_id", "text", k = 16, bands = 8, minJaccard = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // identical
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L))) // near-dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("clusterEdges: components identical to all-pairs minhashLsh, " +
      "but an exact-dup clique contributes LINEAR star edges") {
    // a clique of 6 byte-identical docs (ids 100-105), a near-dup pair
    // (1, 2), a singleton (3); doc 100's content is ALSO a near-dup of
    // doc 1 so the clique must connect into 1's component through its
    // representative
    val cliqueTxt = "the quick brown fox jumps over the lazy dog today"
    val rows = Seq(
      1L -> cliqueTxt,
      2L -> (cliqueTxt + " ok"),
      3L -> "completely different words in this unrelated document") ++
      (100L to 105L).map(_ -> cliqueTxt)
    val df = rows.toDF("doc_id", "text")
    val edges = Dedup.clusterEdges(df, "doc_id", "text",
      k = 16, bands = 8, minJaccard = 0.5)
    val edgeSet = edges.as[(Long, Long)].collect().toSet
    // the clique (incl. doc 1, same content) = 8 identical docs → 7
    // star edges to rep 1, NOT 28 all-pairs
    assert(edgeSet.count { case (a, _) => a == 1L } >= 7)
    val allPairs = Dedup.minhashLsh(df, "doc_id", "text",
      k = 16, bands = 8, minJaccard = 0.5)
      .select("id_a", "id_b")
    assert(edges.count() < allPairs.count()) // 28+ pairs vs 7+1 edges
    val viaStar = Dedup.connectedComponents(edges)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    val viaAll = Dedup.connectedComponents(allPairs)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(viaStar == viaAll, s"$viaStar vs $viaAll")
    // everything except the singleton lands in doc 1's component
    assert(viaStar.forall(_._2 == 1L) &&
      viaStar.map(_._1).toSet == (Set(1L, 2L) ++ (100L to 105L)))
  }

  test("clusterSizeHistogram: singletons ride as size 1 and the clique " +
      "collapses to one cluster row") {
    val cliqueTxt = "the quick brown fox jumps over the lazy dog today"
    val rows = Seq(
      1L -> cliqueTxt,
      2L -> (cliqueTxt + " ok"),
      3L -> "completely different words in this unrelated document") ++
      (100L to 105L).map(_ -> cliqueTxt)
    val out = Dedup.clusterSizeHistogram(rows.toDF("doc_id", "text"),
        "doc_id", "text", k = 16, bands = 8, minJaccard = 0.5)
      .as[(Long, Long)].collect().toSeq
    // 9 docs: one 8-doc component (1, 2, the 6-clique) + singleton 3
    assert(out == Seq((1L, 1L), (8L, 1L)), out.toString)
  }

  test("dupWeights: 1/cluster-size per doc, singletons at weight 1, " +
      "every input row answers") {
    val cliqueTxt = "the quick brown fox jumps over the lazy dog today"
    val rows = Seq(
      1L -> cliqueTxt, 2L -> (cliqueTxt + " ok"),
      3L -> "completely different words in this unrelated document",
      4L -> cliqueTxt)
    val out = Dedup.dupWeights(rows.toDF("doc_id", "text"),
        "doc_id", "text", k = 16, bands = 8, minJaccard = 0.5)
      .orderBy("doc_id")
      .as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 3L, 0.333333), (2L, 3L, 0.333333),
      (3L, 1L, 1.0), (4L, 3L, 0.333333)))
  }

  test("gramOverlap: hand-computed snapshot comparison — shared, " +
      "new-in-B, and the disjoint / identical extremes") {
    val a = Seq((1L, "a b c"), (2L, "x y"))        // grams: ab, bc
      .toDF("doc_id", "text")                       // (x y < n=2? no: 2 toks → xy)
    val b = Seq((1L, "a b c d"), (2L, "p q r"))    // ab, bc, cd; pq, qr
      .toDF("doc_id", "text")
    val out = Dedup.gramOverlap(a, b, "text", n = 2)
      .as[(Long, Long, Long, Long, Double)].collect().head
    // A = {ab, bc, xy}; B = {ab, bc, cd, pq, qr}: shared 2, new 3
    assert(out == (3L, 5L, 2L, 3L, 0.6), out.toString)
    val same = Dedup.gramOverlap(a, a, "text", n = 2)
      .as[(Long, Long, Long, Long, Double)].collect().head
    assert(same == (3L, 3L, 3L, 0L, 0.0))
    val disj = Dedup.gramOverlap(a,
        Seq((9L, "m n o")).toDF("doc_id", "text"), "text", n = 2)
      .as[(Long, Long, Long, Long, Double)].collect().head
    assert(disj == (3L, 2L, 0L, 2L, 1.0))
  }

  test("gramNovelty: first-seen attribution by id order — novel grams " +
      "count once, recrawls answer 0, short docs answer null") {
    val docs = Seq(
      (1L, "a b c"),        // grams (a b), (b c): both first → 1.0
      (2L, "a b c d"),      // (a b), (b c) seen; (c d) new → 1/3
      (3L, "a b"),          // (a b) seen → 0.0
      (4L, "x"))            // shorter than n=2 → no grams
      .toDF("doc_id", "text")
    val out = Dedup.gramNovelty(docs, "doc_id", "text", n = 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Option[Double])].collect().toSeq
    assert(out == Seq(
      (1L, 2L, 2L, Some(1.0)),
      (2L, 3L, 1L, Some(0.333333)),
      (3L, 1L, 0L, Some(0.0)),
      (4L, 0L, 0L, None)))
  }

  test("cross-corpus dedup: batch matches kept near-dups; novel docs survive") {
    val kept = base.toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (11L, "a genuinely novel document about streaming watermarks and state"))
      .toDF("doc_id", "text")
    val pairs = Dedup.crossCorpusPairs(batch, kept, "doc_id", "text",
      k = 16, bands = 8, minJaccard = 0.5)
      .select("new_id", "kept_id").as[(Long, Long)].collect().toSet
    // 10 duplicates kept docs 1/2/4 (1 and 4 exactly, 2 nearly); 11 nothing
    assert(pairs.contains((10L, 1L)) && pairs.contains((10L, 4L)))
    assert(!pairs.exists(_._1 == 11L))
    val survivors = Dedup.dedupAgainst(batch, kept, "doc_id", "text",
      k = 16, bands = 8, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(11L))
    // content collapse re-expands: identical COPIES of a matching doc
    // (and of a novel doc) each answer like their representative, on
    // both sides of the boundary
    val batchCliques = batch.unionByName(Seq(
      (12L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (13L, "a genuinely novel document about streaming watermarks and state"))
      .toDF("doc_id", "text"))
    val keptCliques = kept.unionByName(
      Seq((99L, "the quick brown fox jumps over the lazy dog near the river bank"))
        .toDF("doc_id", "text"))
    val s2 = Dedup.dedupAgainst(batchCliques, keptCliques, "doc_id",
        "text", k = 16, bands = 8, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(s2 == Set(11L, 13L), s2.toString)
  }

  test("signature store: the parquet round-trip answers the identical " +
      "pair set as the text path, k mismatch fails loudly, string ids " +
      "come back original") {
    val kept = base.toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (11L, "a genuinely novel document about streaming watermarks and state"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("sig_store").toString
    // persist the store the way a pipeline would: parquet, re-read
    Dedup.signatureStore(kept, "doc_id", "text", k = 16, shingleN = 3)
      .write.mode("overwrite").parquet(s"$dir/store")
    val store = spark.read.parquet(s"$dir/store")
    val viaStore = Dedup.crossCorpusPairsFromStore(batch, "doc_id",
      "text", store, k = 16, bands = 8, minJaccard = 0.5)
      .select("new_id", "kept_id", "est_jaccard", "jaccard")
      .as[(Long, Long, Double, Double)].collect().toSet
    val viaText = Dedup.crossCorpusPairs(batch, kept, "doc_id", "text",
      k = 16, bands = 8, minJaccard = 0.5)
      .select("new_id", "kept_id", "est_jaccard", "jaccard")
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(viaStore == viaText && viaStore.nonEmpty, viaStore.toString)
    // the incremental keep-set matches too
    val survivors = Dedup.dedupAgainstStore(batch, "doc_id", "text",
      store, k = 16, bands = 8, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(11L))
    // new-side content collapse re-expands: clones of a matching doc
    // and of a novel doc each answer like their representative
    val batchCliques = batch.unionByName(Seq(
      (12L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (13L, "a genuinely novel document about streaming watermarks and state"))
      .toDF("doc_id", "text"))
    val s2 = Dedup.dedupAgainstStore(batchCliques, "doc_id", "text",
      store, k = 16, bands = 8, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(s2 == Set(11L, 13L), s2.toString)
    // a store built at a different k is refused loudly
    val ex = intercept[IllegalArgumentException](
      Dedup.crossCorpusPairsFromStore(batch, "doc_id", "text", store,
        k = 8, bands = 4, minJaccard = 0.5))
    assert(ex.getMessage.contains("sig length"))
    // string ids survive the surrogate round-trip on BOTH frames
    val keptS = kept.select(concat(lit("doc-"), col("doc_id"))
      .as("doc_id"), col("text"))
    val batchS = batch.select(concat(lit("doc-"), col("doc_id"))
      .as("doc_id"), col("text"))
    val storeS = Dedup.signatureStore(keptS, "doc_id", "text", k = 16)
    val pairsS = Dedup.crossCorpusPairsFromStore(batchS, "doc_id",
      "text", storeS, k = 16, bands = 8, minJaccard = 0.5)
      .select("new_id", "kept_id").as[(String, String)].collect().toSet
    assert(pairsS.contains(("doc-10", "doc-1")), pairsS.toString)
  }

  test("broadcast band join of a small batch: identical pairs and " +
      "keep-set, kept side joins broadcast; pre-sz stores fall back; a " +
      "mixed sz store is refused loudly") {
    val kept = base.toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (11L, "a genuinely novel document about streaming watermarks and state"))
      .toDF("doc_id", "text")
    val store = Dedup.signatureStore(kept, "doc_id", "text", k = 16)
    def pairs(s: org.apache.spark.sql.DataFrame) =
      Dedup.crossCorpusPairsFromStore(batch, "doc_id", "text", s,
        k = 16, bands = 8, minJaccard = 0.5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("new_id", "kept_id", "est_jaccard", "jaccard")
        .as[(Long, Long, Double, Double)].collect().toSet
    // the shuffled path: the batch above the byte gate's cap
    spark.conf.set(Sizing.MaxBroadcastBatchBytesKey, "1")
    val plain = try rows(pairs(store))
      finally spark.conf.unset(Sizing.MaxBroadcastBatchBytesKey)
    val hinted = pairs(store)
    assert(rows(hinted) == plain)
    assert(plain.nonEmpty)
    // the small batch broadcasts its band rows — the store is never
    // exchanged (no SortMergeJoin should touch it)
    val plan = hinted.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    // keep-set parity through dedupAgainstStore too
    assert(Dedup.dedupAgainstStore(batch, "doc_id", "text", store,
        k = 16, bands = 8, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet == Set(11L))
    // a store written before the sz column existed answers identically
    // (the band stage falls back to size(sh))
    val preSz = store.drop("sz")
    assert(rows(pairs(preSz)) == plain)
    // …but MIXING pre-sz rows into an sz store silently un-prunes
    // those rows and leaves the schema footer-sampling-ambiguous —
    // the width-guard pass refuses it loudly instead
    val mixed = store.unionByName(
      preSz.withColumn("sz", lit(null).cast("int")))
    val ex = intercept[IllegalArgumentException](pairs(mixed))
    assert(ex.getMessage.contains("Manifest.rebuild"), ex.getMessage)
  }

  test("ingestBatch lifecycle: the batch-2 append makes its content " +
      "visible to batch 3, the grown store equals the from-scratch " +
      "store over the accumulated survivors, and a mixed-k append is " +
      "refused") {
    val b1 = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "completely different text about spark query engines and shuffles"))
      .toDF("doc_id", "text")
    val b2 = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa xx1"),
      (11L, "a fresh second-batch document about watermarks and state stores"),
      (12L, "another fresh second-batch piece mentioning parquet bucketing"))
      .toDF("doc_id", "text")
    val b3 = Seq(
      // near-dup of 11 — in the store ONLY via the batch-2 append
      (20L, "a fresh second-batch document about watermarks and state stores yy2"),
      // near-dup of 1 — the ORIGINAL store rows still match
      (21L, "alpha beta gamma delta epsilon zeta eta theta iota kappa zz3"),
      (22L, "genuinely new third batch content on codegen and tungsten"))
      .toDF("doc_id", "text")
    val store1 = Dedup.signatureStore(b1, "doc_id", "text", k = 16)
    val (s2, store2) = Dedup.ingestBatch(store1, b2, "doc_id", "text",
      k = 16, bands = 8, minJaccard = 0.5)
    assert(s2.select("doc_id").as[Long].collect().toSet ==
      Set(11L, 12L))
    val (s3, store3) = Dedup.ingestBatch(store2, b3, "doc_id", "text",
      k = 16, bands = 8, minJaccard = 0.5)
    assert(s3.select("doc_id").as[Long].collect().toSet == Set(22L))
    // append ≡ rebuild: the grown store is row-identical to the
    // from-scratch store over b1 ∪ survivors(b2) ∪ survivors(b3)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "sh", "sig")
      .as[(Long, Seq[Long], Seq[Long])].collect()
      .map { case (id, sh, sig) => (id, sh.toSet, sig) }.toSet
    val rebuilt = Dedup.signatureStore(
      b1.unionByName(s2).unionByName(s3), "doc_id", "text", k = 16)
    assert(rows(store3) == rows(rebuilt))
    assert(rows(store3).map(_._1) == Set(1L, 2L, 11L, 12L, 22L))
    // the store survives the DISK boundary between batches — the
    // parquet-append shape a real pipeline runs: persist the grown
    // store, re-read it cold, and batch 3 answers identically
    val dir = java.nio.file.Files
      .createTempDirectory("ingest_store").toString
    store2.write.mode("overwrite").parquet(s"$dir/store")
    val (s3disk, _) = Dedup.ingestBatch(
      spark.read.parquet(s"$dir/store"), b3, "doc_id", "text",
      k = 16, bands = 8, minJaccard = 0.5)
    assert(s3disk.select("doc_id").as[Long].collect().toSet ==
      Set(22L))
    // an append under a different k is refused by the width guard —
    // min/max over ALL rows, so the mixed store can't slip through on
    // a lucky first row
    val mixed = store2.unionByName(
      Dedup.signatureStore(b3, "doc_id", "text", k = 8))
    val ex = intercept[IllegalArgumentException](
      Dedup.ingestBatch(mixed, b3, "doc_id", "text",
        k = 16, bands = 8, minJaccard = 0.5))
    assert(ex.getMessage.contains("sig length"))
    // day-zero bootstrap: an EMPTY store must pass the guard (null
    // agg row, nothing to match) and keep every batch doc — the
    // first min/max guard cut threw here
    val (s0, store0) = Dedup.ingestBatch(
      store1.limit(0), b3, "doc_id", "text",
      k = 16, bands = 8, minJaccard = 0.5)
    assert(s0.count() == b3.count())
    assert(store0.count() == b3.count())
  }

  test("simhash: identical text hamming 0; near-dup small hamming") {
    val pairs = Dedup.simhashPairs(base.toDF("doc_id", "text"),
      "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m((1L, 4L)) == 0)
  }

  test("embedding near-dups via LSH buckets match brute force for clones") {
    val vecs = Seq(
      (1L, Seq.fill(8)(1.0f)),
      (2L, Seq.fill(8)(1.0f).updated(0, 0.9f)), // near clone
      (3L, Seq.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)))
    val df = vecs.toDF("vec_id", "embedding")
    val exact = Dedup.embeddingNearDups(df, "vec_id", "embedding", 0.9, 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact == Set((1L, 2L)))
    // the DEFAULT is the LSH scale path — identical sign signatures for
    // the clone pair regardless of the hyperplane draw
    val dflt = Dedup.embeddingNearDups(df, "vec_id", "embedding", 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!dflt.contains((1L, 3L)) && !dflt.contains((2L, 3L)))
  }

  test("exact embedding path (planes=0) refuses a corpus over the cap") {
    val df = (1L to 8L).map(i => (i, Seq.fill(4)(i.toFloat)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Dedup.embeddingNearDups(df, "vec_id", "embedding", 0.9,
        planes = 0, exactMaxRows = 5L)
    }
    assert(e.getMessage.contains("exactMaxRows"))
    // raising the cap explicitly re-enables the exact path
    val ok = Dedup.embeddingNearDups(df, "vec_id", "embedding", 0.999,
      planes = 0, exactMaxRows = 8L)
    assert(ok.count() >= 0L)
  }

  test("containmentPairs: a doc embedded whole in a longer one scores " +
      "containment 1.0 where Jaccard stays low") {
    // doc 2 = doc 1's text plus unrelated tail: every 3-gram of doc 1
    // appears in doc 2 → C(1→2) = 1.0; Jaccard = |S1|/|S2| ≈ 0.5
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu"),
      (3L, "completely unrelated words about query engines and files"))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(df, "doc_id", "text", n = 3,
      threshold = 0.9).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L)
    assert(r.getAs[Double]("containment") == 1.0)
    // directed: the small doc is contained in the big one, not vice versa
    assert(r.getAs[Double]("containment_ab") == 1.0) // inter/|S_1|
    assert(r.getAs[Double]("containment_ba") < 0.5)
    // the same pair's Jaccard is below the containment threshold — the
    // case this measure exists for
    val jac = r.getAs[Long]("inter").toDouble /
      (r.getAs[Int]("sz_a") + r.getAs[Int]("sz_b") -
        r.getAs[Long]("inter"))
    assert(jac < 0.9)
  }

  test("containmentByContent: exact copies collapse to the min-id rep " +
      "with member counts; rep-level pairs equal containmentPairs on " +
      "the distinct contents") {
    val long = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu"
    val short = "alpha beta gamma delta epsilon zeta"  // prefix → C=1
    val rows = Seq(
      (1L, long), (2L, short),
      (10L, long), (11L, long),          // exact copies of 1
      (20L, short),                       // exact copy of 2
      (30L, "completely different unrelated words here entirely"))
      .toDF("doc_id", "text")
    val out = Dedup.containmentByContent(rows, "doc_id", "text",
        n = 3, threshold = 0.9)
      .select("id_a", "id_b", "containment", "members_a", "members_b")
      .as[(Long, Long, Double, Long, Long)].collect().toSeq
    // ONE rep-level pair: (1=rep of {1,10,11}, 2=rep of {2,20}),
    // containment 1.0 (the short doc is a prefix of the long one)
    assert(out == Seq((1L, 2L, 1.0, 3L, 2L)), out.toString)
    // on a dup-free corpus the collapse is the identity: same pairs
    val dupFree = Seq((1L, long), (2L, short),
      (30L, "completely different unrelated words here entirely"))
      .toDF("doc_id", "text")
    val a = Dedup.containmentByContent(dupFree, "doc_id", "text",
      n = 3, threshold = 0.9)
      .select("id_a", "id_b", "inter").as[(Long, Long, Long)]
      .collect().toSet
    val b = Dedup.containmentPairs(dupFree, "doc_id", "text",
      n = 3, threshold = 0.9)
      .select("id_a", "id_b", "inter").as[(Long, Long, Long)]
      .collect().toSet
    assert(a == b)
  }

  test("containmentPairs maxDf guard is loud; raising it re-enables") {
    // 'x y z' appears in all 4 docs → df = 4 > maxDf = 3
    val df = (1L to 4L).map(i => (i, s"x y z tail$i words here"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.containmentPairs(df, "doc_id", "text", n = 3,
        threshold = 0.99, maxDf = 3L).collect()
    }
    assert(e.getMessage.contains("maxDf"))
    val ok = Dedup.containmentPairs(df, "doc_id", "text", n = 3,
      threshold = 0.99, maxDf = 10L)
    assert(ok.count() == 0L) // shared prefix alone is below threshold
  }

  test("containmentPairs maxPairs guard trips on many mid-df grams " +
      "that each stay under maxDf") {
    // 8 distinct grams each shared by exactly 3 docs: max df = 3 stays
    // under maxDf = 5, but Σdf² ≥ 8·9 = 72 > maxPairs = 50 — the blind
    // spot a per-gram bound alone waves through. Docs pair up the
    // shared trigrams (a1..a8 across docs 1-3, etc. via rotation).
    val grams = (1 to 8).map(g => s"g${g}a g${g}b g${g}c")
    val df = (0 until 3).map { d =>
      (d.toLong + 1L, grams.mkString(s" pad${d}x pad${d}y "))
    }.toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.containmentPairs(df, "doc_id", "text", n = 3,
        threshold = 0.99, maxDf = 1000L, maxPairs = 50L).collect()
    }
    assert(e.getMessage.contains("maxPairs") &&
      e.getMessage.contains("Σdf²"), e.getMessage)
    // an explicit budget raise re-enables the same corpus; at a low
    // threshold the 8 shared grams (of ~36 per doc) surface each pair
    val ok = Dedup.containmentPairs(df, "doc_id", "text", n = 3,
      threshold = 0.2, maxDf = 1000L, maxPairs = 100000L)
    assert(ok.count() == 3L) // all three doc pairs share the 8 grams
  }
}

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("exactDeduped keeps one representative per normalized text") {
    val df = Seq((1L, "Hello World"), (2L, "hello world"), (3L, "other"))
      .toDF("doc_id", "text")
    val out = Dedup.exactDeduped(df, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(out.map(_._1) == Seq(1L, 3L))
  }

  test("clusterDeduped drops everything but cluster minima") {
    val df = (1L to 6L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val out = Dedup.clusterDeduped(df, "doc_id", pairs)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    // cluster {1,2,3} keeps 1; 4 unpaired; cluster {5,6} keeps 5
    assert(out.map(_._1) == Seq(1L, 4L, 5L))
  }

  test("probe guard rejects corpus-sized probe sets") {
    val df = (1L to 50L).map(i => (i, s"some text $i")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](
      Dedup.ngramJaccardProbe(df, df, "doc_id", "text", maxProbes = 10))
  }

  test("transitive chains collapse to the min id; islands stay apart") {
    // chain 1-2-3-4 (no 1-4 edge), island 10-11, singleton edge 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L))
      .toDF("id_a", "id_b")
    val comps = graft.pipeline.Dedup.connectedComponents(pairs)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(comps == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents: a chain longer than maxIter fails loudly, " +
      "counting propagation steps") {
    // chain 1-2-…-12: node 12 needs 11 propagation steps to learn 1
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException](
      Dedup.connectedComponents(pairs, maxIter = 3))
    // two steps per round: the loop stops after 4 steps, the first
    // even count >= maxIter
    assert(e.getMessage.contains("did not converge in 4 propagation " +
      "steps (maxIter = 3)"), e.getMessage)
    assert(Dedup.connectedComponents(pairs).select("comp").distinct()
      .as[Long].collect().toSeq == Seq(1L))
  }

  test("connectedComponents: reliable-checkpoint mode matches local mode") {
    // with a checkpoint dir configured the loop snapshots reliably
    // (survives executor loss on a cluster); labels must be identical
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val localMode = Dedup.connectedComponents(pairs)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cc-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val reliableMode = Dedup.connectedComponents(pairs)
        .orderBy("id").as[(Long, Long)].collect().toSeq
      assert(reliableMode == localMode)
    } finally {
      // un-set so later suites keep the faster local-checkpoint path
      spark.sparkContext.setCheckpointDir(null)
    }
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("knnBrute returns exact top-k; knnLsh recall is high on testdata") {
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val probes = e.filter(col("vec_id") < 5)
    val brute = Similarity.knnBrute(probes, e, "vec_id", "embedding", 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(brute.size == 25)
    val lsh = Similarity.knnLsh(probes, e, "vec_id", "embedding", 5,
      planes = 2)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // planes=2 → 4 buckets → candidate set ~1/4; recall won't be 1 but must
    // be substantial (same-bucket bias toward similar vectors)
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall $recall too low")
    // every LSH result must be a genuine neighbor pair from the corpus
    assert(lsh.forall { case (p, n) => p != n })
    // multiprobe (1 sign-flip) must strictly widen the candidate set →
    // recall at least as high, typically higher
    val mp = Similarity.knnLsh(probes, e, "vec_id", "embedding", 5,
      planes = 2, multiprobe = true)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recallMp = brute.intersect(mp).size.toDouble / brute.size
    assert(recallMp >= recall, s"multiprobe recall $recallMp < $recall")
    assert(recallMp >= 0.8, s"multiprobe recall $recallMp unexpectedly low")
  }

  test("string ids ride the bounded collect_top_k shortlist: knnBrute " +
      "results match the numeric-id run 1:1 and the plan carries no " +
      "collect_list") {
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val probes = e.filter(col("vec_id") < 3)
    val numeric = Similarity
      .knnBrute(probes, e, "vec_id", "embedding", 5)
      .select(col("probe_id").cast("string"),
        col("neighbor_id").cast("string"))
      .as[(String, String)].collect().toSet
    // same corpus with string ids (zero-padded so string order == the
    // numeric tie-break order) must produce the same pairs — a string
    // id rides the bounded collect_top_k in its native (UTF-8 binary)
    // order
    val pad = format_string("%05d", col("vec_id"))
    val es = e.withColumn("vec_id", pad)
    val ps = probes.withColumn("vec_id", pad)
    val stringyDf = Similarity.knnBrute(ps, es, "vec_id", "embedding", 5)
    // the k-bounded path, not the partition-sized sorted-slice buffer:
    // the plan must rank through collect_top_k, with no collect_list
    val plan = stringyDf.queryExecution.optimizedPlan.toString
    assert(!plan.contains("collect_list"), plan.take(2000))
    assert(plan.contains("collect_top_k"), plan.take(2000))
    val stringy = stringyDf
      .select(col("probe_id").cast("int").cast("string"),
        col("neighbor_id").cast("int").cast("string"))
      .as[(String, String)].collect().toSet
    assert(stringy == numeric)
    // UNPADDED string ids exercise the UTF-8 tie-break ordering ("10" <
    // "2"): parity against the type-agnostic sorted-slice shape is the
    // contract, pinned by comparing to a struct-sort oracle over the
    // same scored pairs
    val esu = e.withColumn("vec_id", col("vec_id").cast("string"))
    val psu = probes.withColumn("vec_id", col("vec_id").cast("string"))
    val unpadded = Similarity.knnBrute(psu, esu, "vec_id", "embedding", 5)
      .select("probe_id", "neighbor_id")
      .as[(String, String)].collect().toSet
    val oracle = Similarity.knnBrute(probes, e, "vec_id", "embedding",
        e.count().toInt) // full ranking, then re-rank by string order
      .withColumn("probe_id", col("probe_id").cast("string"))
      .withColumn("neighbor_id", col("neighbor_id").cast("string"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("probe_id")
          .orderBy(desc("cosine"), col("neighbor_id"))))
      .filter(col("rk") <= 5)
      .select("probe_id", "neighbor_id")
      .as[(String, String)].collect().toSet
    assert(unpadded == oracle)
  }

  test("every id type plans collect_top_k, never collect_list: long, " +
      "string, decimal, binary and struct ids keep their type and " +
      "return the sorted-slice oracle's pairs") {
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val k = 5
    val ids: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "long" -> col("vec_id"),
      "string" -> col("vec_id").cast("string"),
      "decimal" -> col("vec_id").cast("decimal(12,0)"),
      "binary" -> format_string("%05d", col("vec_id")).cast("binary"),
      "struct" -> struct((col("vec_id") % 7).as("a"), col("vec_id").as("b")))
    for ((name, id) <- ids) {
      val typed = e.withColumn("vec_id", id)
      val probes = typed.filter(col("embedding").isNotNull)
        .orderBy(col("vec_id")).limit(3)
      val got = Similarity.knnBrute(probes, typed, "vec_id", "embedding", k)
      val plan = got.queryExecution.optimizedPlan.toString
      assert(plan.contains("collect_top_k"), s"$name: ${plan.take(2000)}")
      assert(!plan.contains("collect_list"), s"$name: ${plan.take(2000)}")
      assert(got.schema("neighbor_id").dataType ==
        typed.schema("vec_id").dataType, name)
      // the oracle: every candidate's (−cosine, id) struct collected,
      // sorted and sliced — the unbounded shape the kernel bounds
      val oracle = probes.select(col("vec_id").as("probe_id"),
          col("embedding").cast("array<double>").as("pv"))
        .crossJoin(typed.select(col("vec_id").as("neighbor_id"),
          col("embedding").cast("array<double>").as("cv")))
        .filter(col("probe_id") =!= col("neighbor_id"))
        .groupBy("probe_id")
        .agg(slice(array_sort(collect_list(struct(
          (lit(0.0) - Similarity.cosine(col("pv"), col("cv"))).as("s"),
          col("neighbor_id")))), 1, k).as("xs"))
        .select(col("probe_id"), explode(col("xs.neighbor_id"))
          .as("neighbor_id"))
      def pairs(df: org.apache.spark.sql.DataFrame): Set[String] =
        df.select(to_json(struct(col("probe_id"), col("neighbor_id"))))
          .as[String].collect().toSet
      val want = pairs(oracle)
      assert(want.size == 3 * k, name)
      assert(pairs(got) == want, name)
    }
  }

  test("knnIvf: exhaustive nprobe equals brute; partial nprobe recalls") {
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val probes = e.filter(col("vec_id") < 5)
    val brute = Similarity.knnBrute(probes, e, "vec_id", "embedding", 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // nprobe == nlist scans every cell → identical to brute force
    val full = Similarity.knnIvf(probes, e, "vec_id", "embedding", 5,
      nlist = 8, nprobe = 8)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(full == brute)
    // scanning half the cells keeps most true neighbors (cell locality)
    val part = Similarity.knnIvf(probes, e, "vec_id", "embedding", 5,
      nlist = 8, nprobe = 4)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(part).size.toDouble / brute.size
    assert(recall >= 0.3, s"IVF recall $recall too low")
    assert(part.size <= brute.size)
  }

  test("knnPq: full shortlist equals brute exactly; tight shortlist " +
      "recalls") {
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = e.count().toInt
    val probes = e.filter(col("vec_id") < 5)
    val brute = Similarity.knnBrute(probes, e, "vec_id", "embedding", 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // shortlist covering the corpus → the exact re-rank IS brute force,
    // independent of quantization error
    val full = Similarity.knnPq(probes, e, "vec_id", "embedding", 5,
      m = 8, ksub = 16, shortlist = n)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(full == brute)
    // a tight shortlist keeps most true neighbors; the testdata
    // embeddings are near-uniform (hardest case for coarse codes), so
    // the bar is recall at a 64-deep shortlist, not a 25-deep one
    val tight = Similarity.knnPq(probes, e, "vec_id", "embedding", 5,
      m = 8, ksub = 16, shortlist = 64)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(tight).size.toDouble / brute.size
    assert(recall >= 0.5, s"PQ recall $recall too low")
    assert(tight.size == brute.size) // always fills k from the shortlist
    // deterministic across runs (stable sample, first-min ties)
    val again = Similarity.knnPq(probes, e, "vec_id", "embedding", 5,
      m = 8, ksub = 16, shortlist = 64)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(again == tight)
  }

  test("knnBinary: signature packing, hamming, full shortlist == brute") {
    // hand case: 3 dims, thresholds (0, 0, 0) → bits from sign
    val df = Seq((1L, Seq(1.0, -1.0, 2.0)), (2L, Seq(-1.0, 1.0, 3.0)))
      .toDF("id", "v")
    val sig = df.select(col("id"),
      Similarity.binarySignature(col("v"), Array(0.0, 0.0, 0.0)).as("s"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sig(1L) == Seq((1L << 0) | (1L << 2))) // dims 0 and 2 positive
    assert(sig(2L) == Seq((1L << 1) | (1L << 2)))
    val ham = Seq((sig(1L), sig(2L))).toDF("a", "b")
      .select(Similarity.hamming(col("a"), col("b")))
      .as[Long].collect().head
    assert(ham == 2L) // bits 0 and 1 differ
    // full shortlist → exact re-rank is brute force
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = e.count().toInt
    val probes = e.filter(col("vec_id") < 5)
    val brute = Similarity.knnBrute(probes, e, "vec_id", "embedding", 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val full = Similarity.knnBinary(probes, e, "vec_id", "embedding", 5,
      shortlistFactor = n / 5 + 1)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(full == brute)
    // a tight shortlist recalls most true neighbors and is deterministic
    val tight = Similarity.knnBinary(probes, e, "vec_id", "embedding", 5,
      shortlistFactor = 8)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(tight).size.toDouble / brute.size
    assert(recall >= 0.5, s"binary recall $recall too low")
    assert(tight.size == brute.size)
    val again = Similarity.knnBinary(probes, e, "vec_id", "embedding", 5,
      shortlistFactor = 8)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(again == tight)
  }

  test("binaryThresholds: deterministic across partitionings, bounded " +
      "sample, interpolated medians") {
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val t1 = Similarity.binaryThresholds(e, "vec_id", "embedding", 64)
    // repartitioning (placement) must not change a single bit — the
    // sample is md5-of-id-ordered, data-defined not placement-defined
    val t2 = Similarity.binaryThresholds(e.repartition(7), "vec_id",
      "embedding", 64)
    val t3 = Similarity.binaryThresholds(e.repartition(1).sort(desc(
      "vec_id")), "vec_id", "embedding", 64)
    assert(t1.toSeq == t2.toSeq && t1.toSeq == t3.toSeq)
    // the sampleCap bounds the trainer: a cap of 4 uses exactly the 4
    // smallest-md5 rows; hand-compute the interpolated dim-0 median
    val capped = Similarity.binaryThresholds(e, "vec_id", "embedding",
      64, sampleCap = 4)
    val picked = e.select(col("vec_id").cast("string").as("id"),
        col("embedding").cast("array<double>").as("v"))
      .orderBy(md5(col("id").cast("binary")), col("id"))
      .limit(4).select("v").collect().map(_.getSeq[Double](0))
    val xs = picked.map(_.head).sorted
    val want = xs(1) + (xs(2) - xs(1)) * 0.5
    assert(capped(0) == want)
  }

  test("semanticNearDupPairs fails loudly on a degenerate corpus that " +
      "collapses into one quadratic cell") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    // every row the same vector → every row lands in one argmax cell
    val one = e.limit(1).select(col("embedding").as("clone"))
    val degenerate = e.crossJoin(one)
      .select(col("vec_id"), col("clone").as("embedding"))
    val ex = intercept[IllegalArgumentException] {
      Similarity.semanticNearDupPairs(degenerate, "vec_id", "embedding",
        threshold = 0.9, nlist = 8, maxCellRows = 100L).collect()
    }
    assert(ex.getMessage.contains("hottest k-means cell"))
    // the same cap passes a healthy corpus (cells stay small)
    val ok = Similarity.semanticNearDupPairs(e, "vec_id", "embedding",
      threshold = 0.9, nlist = 8, maxCellRows = 400L)
    assert(ok.count() >= 0L)
  }

  test("knnIvfPq: exhaustive cells + full shortlist equals brute; " +
      "pruned search recalls and is deterministic") {
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = e.count().toInt
    val probes = e.filter(col("vec_id") < 5)
    val brute = Similarity.knnBrute(probes, e, "vec_id", "embedding", 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // every cell visited + corpus-wide shortlist → exact re-rank is brute
    val full = Similarity.knnIvfPq(probes, e, "vec_id", "embedding", 5,
      nlist = 8, nprobe = 8, m = 8, ksub = 16, shortlist = n)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(full == brute)
    // pruned cells + tight shortlist still recall most true neighbors
    val pruned = Similarity.knnIvfPq(probes, e, "vec_id", "embedding", 5,
      nlist = 8, nprobe = 4, m = 8, ksub = 16, shortlist = 64)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(pruned).size.toDouble / brute.size
    assert(recall >= 0.3, s"IVF-PQ recall $recall too low")
    val again = Similarity.knnIvfPq(probes, e, "vec_id", "embedding", 5,
      nlist = 8, nprobe = 4, m = 8, ksub = 16, shortlist = 64)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(again == pruned)
  }

  test("semanticNearDupPairs finds every planted clone in-cell; pairs " +
      "are a subset of the exact all-pairs scan") {
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val planted = e.unionByName(e.filter(col("vec_id") < 15).select(
      (col("vec_id") + 100000).as("vec_id"), col("embedding")))
    // clones share the argmax cell at ANY nlist → recall 1.0 on them
    val pairs = Similarity.semanticNearDupPairs(planted, "vec_id",
      "embedding", threshold = 0.9, nlist = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == (0L until 15L).map(i => (i, i + 100000)).toSet)
    // at a loose threshold, within-cell pairs ⊆ the exact pair scan
    val cellPairs = Similarity.semanticNearDupPairs(e, "vec_id",
      "embedding", threshold = 0.3, nlist = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.embeddingNearDups(e, "vec_id", "embedding",
      threshold = 0.3, planes = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cellPairs.subsetOf(exact))
    // cleaned corpus drops exactly the planted clones
    val cleaned = Dedup.clusterDeduped(planted, "vec_id",
      Similarity.semanticNearDupPairs(planted, "vec_id", "embedding",
        threshold = 0.9, nlist = 8))
    assert(cleaned.count() == e.count())
    assert(cleaned.filter(col("vec_id") >= 100000).count() == 0)
  }

  test("IVF-PQ index persists: model + code frame round-trip parquet " +
      "and answer knnIvfPq's exact results; mismatched index refused") {
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val probes = e.filter(col("vec_id") < 5)
    val tmp = java.nio.file.Files
      .createTempDirectory("ivfpq_index").toString
    val (model, index) = Similarity.ivfPqIndex(e, "vec_id",
      "embedding", nlist = 8, m = 8, ksub = 16)
    // persist BOTH artifacts the way a pipeline would, and reload
    model.toFrame(spark).write.mode("overwrite")
      .parquet(s"$tmp/model")
    index.write.mode("overwrite").parquet(s"$tmp/index")
    val model2 = Similarity.IvfPqModel.fromFrame(
      spark.read.parquet(s"$tmp/model"))
    assert(model2.nlist == 8 && model2.m == 8 && model2.ksub == 16)
    assert(model2.cents.map(_.toSeq).toSeq ==
      model.cents.map(_.toSeq).toSeq)
    val index2 = spark.read.parquet(s"$tmp/index")
    val viaIndex = Similarity.knnIvfPqOnIndex(probes, index2, e,
      "vec_id", "embedding", model2, k = 3, nprobe = 4,
      shortlist = 64)
      .as[(Long, Long, Double)].collect().toSet
    val direct = Similarity.knnIvfPq(probes, e, "vec_id", "embedding",
      k = 3, nlist = 8, nprobe = 4, m = 8, ksub = 16, shortlist = 64)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaIndex == direct && viaIndex.nonEmpty, viaIndex.toString)
    // an index whose code width disagrees with the model is refused
    val narrowed = index2.withColumn("codes",
      slice(col("codes"), 1, 4))
    val ex = intercept[IllegalArgumentException](
      Similarity.knnIvfPqOnIndex(probes, narrowed, e, "vec_id",
        "embedding", model2, k = 3))
    assert(ex.getMessage.contains("code width"))
  }

  test("indexBatch: frozen-model appends are row-identical to the " +
      "one-pass index, the appended index answers identical queries, " +
      "and a mixed-model append is refused") {
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val probes = e.filter(col("vec_id") < 5)
    val (model, idxFull) = Similarity.ivfPqIndex(e, "vec_id",
      "embedding", nlist = 8, m = 8, ksub = 16)
    // append ≡ rebuild: encode per-batch under the FROZEN model —
    // same centroids → same cells, same codebooks → same codes
    val idxApp = Similarity
      .indexBatch(e.filter(col("vec_id") % 2 === 0), "vec_id",
        "embedding", model)
      .unionByName(Similarity.indexBatch(
        e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding",
        model))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("neighbor_id", "cell", "codes")
      .as[(Long, Int, Seq[Int])].collect().toSet
    assert(rows(idxApp) == rows(idxFull) && rows(idxApp).nonEmpty)
    // and the appended index serves the identical top-k
    val viaApp = Similarity.knnIvfPqOnIndex(probes, idxApp, e,
      "vec_id", "embedding", model, k = 3, nprobe = 4, shortlist = 64)
      .as[(Long, Long, Double)].collect().toSet
    val viaFull = Similarity.knnIvfPqOnIndex(probes, idxFull, e,
      "vec_id", "embedding", model, k = 3, nprobe = 4, shortlist = 64)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaApp == viaFull && viaApp.nonEmpty)
    // the appended index survives the DISK boundary: parquet both
    // artifacts, reload cold, same answers (the real pipeline appends
    // each batch's code rows as new parquet files next to the old)
    val tmp = java.nio.file.Files
      .createTempDirectory("ivfpq_append").toString
    model.toFrame(spark).write.mode("overwrite").parquet(s"$tmp/model")
    idxApp.write.mode("overwrite").parquet(s"$tmp/index")
    val viaDisk = Similarity.knnIvfPqOnIndex(probes,
      spark.read.parquet(s"$tmp/index"), e, "vec_id", "embedding",
      Similarity.IvfPqModel.fromFrame(
        spark.read.parquet(s"$tmp/model")),
      k = 3, nprobe = 4, shortlist = 64)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaDisk == viaFull)
    // an append quantized under a DIFFERENT model (m=4 → 4-wide
    // codes) poisons the width guard's min/max, not just row 1
    val (model4, _) = Similarity.ivfPqIndex(e, "vec_id", "embedding",
      nlist = 8, m = 4, ksub = 16)
    val mixed = idxApp.unionByName(Similarity.indexBatch(
      e.filter(col("vec_id") < 3), "vec_id", "embedding", model4))
    val ex = intercept[IllegalArgumentException](
      Similarity.knnIvfPqOnIndex(probes, mixed, e, "vec_id",
        "embedding", model, k = 3))
    assert(ex.getMessage.contains("code width"))
    // an EMPTY index passes the guard (null agg row) and answers
    // zero neighbors; checkWidths = false skips the index-wide pass
    // for hot serving loops that validated at load
    assert(Similarity.knnIvfPqOnIndex(probes, idxFull.limit(0), e,
      "vec_id", "embedding", model, k = 3).count() == 0)
    assert(Similarity.knnIvfPqOnIndex(probes, idxFull, e, "vec_id",
      "embedding", model, k = 3, checkWidths = false).count() > 0)
  }

  test("semanticClusterEdges: components identical to the all-pairs " +
      "scan at nlist=1 (no cell boundary), cliques collapse to linear " +
      "stars, zero vectors never star-join") {
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").filter(col("vec_id") < 60)
    // plant a 5-member identical clique of vec 0..4 and two zero
    // vectors (identical to each other — cosine is DEFINED 0 for them,
    // so all-pairs never joins them and the star must not either)
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    val clones = e.filter(col("vec_id") < 5)
      .crossJoin(spark.range(1, 5).select(col("id").as("__k")))
      .select((col("vec_id") + col("__k") * 1000).as("vec_id"),
        col("embedding"))
    val zeros = spark.range(9000, 9002).select(col("id").as("vec_id"),
      array_repeat(lit(0.0f), dim).as("embedding"))
    val corpus = e.unionByName(clones).unionByName(zeros)
    def comps(pairs: org.apache.spark.sql.DataFrame) =
      Dedup.connectedComponents(pairs)
        .as[(Long, Long)].collect().toSet
    // nlist = 1: the within-cell scan IS all-pairs — identity is exact
    val allPairs = comps(Similarity.semanticNearDupPairs(corpus,
      "vec_id", "embedding", threshold = 0.9, nlist = 1))
    val starred = Similarity.semanticClusterEdges(corpus, "vec_id",
      "embedding", threshold = 0.9, nlist = 1)
    assert(comps(starred) == allPairs)
    // the clique's edge count is LINEAR (4 star edges for 5 members,
    // not 10 all-pairs), and no zero vector appears in any edge
    val edges = starred.as[(Long, Long)].collect().toSeq
    val cliqueIds = Set(0L, 1000L, 2000L, 3000L, 4000L)
    assert(edges.count(p =>
      cliqueIds(p._1) && cliqueIds(p._2)) == 4, edges.toString)
    assert(!edges.exists(p => p._1 >= 9000L || p._2 >= 9000L))
    // and the planted-clone gate shape still cleans exactly the clones
    val cleaned2 = Dedup.clusterDeduped(corpus, "vec_id",
      Similarity.semanticClusterEdges(corpus, "vec_id", "embedding",
        threshold = 0.9, nlist = 8))
    assert(cleaned2.filter(col("vec_id") >= 1000L &&
      col("vec_id") < 9000L).count() == 0)
    assert(cleaned2.filter(col("vec_id") < 60).count() == e.count())
  }

  test("hardNegatives: every neighbor has a different label and equals " +
      "a brute ranking restricted to cross-label pairs") {
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val probes = e.filter(col("vec_id") < 5)
    val got = Similarity.hardNegatives(probes, e, "vec_id",
      "embedding", "label", k = 3)
    val rows = got.collect()
    assert(rows.length == 15)
    assert(rows.forall(r =>
      r.getAs[Int]("probe_label") != r.getAs[Int]("neighbor_label")))
    // oracle: full brute ranking, labels joined on, same-label dropped,
    // re-ranked per probe
    val full = Similarity.knnBrute(probes, e, "vec_id", "embedding",
        e.count().toInt)
      .join(e.select(col("vec_id").as("neighbor_id"),
        col("label").as("nl")), "neighbor_id")
      .join(e.select(col("vec_id").as("probe_id"),
        col("label").as("pl")), "probe_id")
      .filter(col("pl") =!= col("nl"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("probe_id")
          .orderBy(desc("cosine"), col("neighbor_id"))))
      .filter(col("rk") <= 3)
      .select("probe_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    assert(got.select("probe_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet == full)
  }

  test("hardNegativesIvf: exhaustive nprobe equals the brute mining; " +
      "partial nprobe keeps substantial recall") {
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val probes = e.filter(col("vec_id") < 5)
    val brute = Similarity.hardNegatives(probes, e, "vec_id",
      "embedding", "label", k = 3)
      .select("probe_id", "neighbor_id").as[(Long, Long)]
      .collect().toSet
    val exhaustive = Similarity.hardNegativesIvf(probes, e, "vec_id",
      "embedding", "label", k = 3, nlist = 8, nprobe = 8)
      .select("probe_id", "neighbor_id").as[(Long, Long)]
      .collect().toSet
    assert(exhaustive == brute)
    val partial = Similarity.hardNegativesIvf(probes, e, "vec_id",
      "embedding", "label", k = 3, nlist = 8, nprobe = 4)
      .select("probe_id", "neighbor_id").as[(Long, Long)]
      .collect().toSet
    val recall = brute.intersect(partial).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall too low")
  }

  test("kCenter: greedy sequence matches a sequential reference and is " +
      "invariant to partitioning") {
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val got = Similarity.kCenter(e, "vec_id", "embedding", k = 6)
      .orderBy("sel_rank")
      .select("sel_rank", "center_id", "radius")
      .as[(Long, Long, Option[Double])].collect().toSeq
    // sequential driver-side reference over the same vectors
    val vecs = e.select(col("vec_id"),
      col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
      .map { case (id, v) => (id, v.toArray) }
    def dist(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      val den = math.sqrt(na) * math.sqrt(nb)
      1.0 - (if (den == 0) 0.0 else d / den)
    }
    var sel = Vector(vecs.head._1)
    val mind = scala.collection.mutable.Map(
      vecs.map { case (id, v) => id -> dist(v, vecs.head._2) }: _*)
    var expect = Vector[(Long, Long, Option[Double])]((1L, vecs.head._1,
      None))
    for (r <- 2 to 6) {
      val cand = vecs.filterNot(p => sel.contains(p._1))
      val win = cand.maxBy { case (id, _) => (mind(id), -id.toDouble) }
      // maxBy keeps the FIRST max; ids ascend, so ties pick min id
      expect :+= ((r.toLong, win._1, Some(mind(win._1))))
      sel :+= win._1
      vecs.foreach { case (id, v) =>
        mind(id) = math.min(mind(id), dist(v, win._2)) }
    }
    assert(got.map(t => (t._1, t._2)) == expect.map(t => (t._1, t._2)))
    got.zip(expect).foreach { case (g, x) =>
      assert(g._3.isDefined == x._3.isDefined)
      g._3.foreach(gr => assert(math.abs(gr - x._3.get) < 1e-12))
    }
    // covering radius is non-increasing
    val radii = got.flatMap(_._3)
    assert(radii == radii.sorted.reverse)
    // partitioning-invariant (the distributed top-1 merge is exact)
    val repartitioned = Similarity.kCenter(e.repartition(7), "vec_id",
      "embedding", k = 6).orderBy("sel_rank")
      .select("sel_rank", "center_id")
      .as[(Long, Long)].collect().toSeq
    assert(repartitioned == got.map(t => (t._1, t._2)))
  }

  test("kCenter stops early when k exceeds distinct rows and validates k") {
    val tiny = Seq((1L, Array(1.0, 0.0)), (2L, Array(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kCenter(tiny, "vec_id", "embedding", k = 5)
    assert(got.count() == 2)
    intercept[IllegalArgumentException] {
      Similarity.kCenter(tiny, "vec_id", "embedding", k = 0)
    }
    intercept[IllegalArgumentException] {
      Similarity.kCenter(tiny, "vec_id", "embedding", k = 2000)
    }
  }
}

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("scrubPii redacts emails, IPv4s, and phone-shaped runs") {
    val df = Seq(
      (1L, "mail a.b@x.co or 192.168.0.1 tel +44 123 4567 now"),
      (2L, "clean text stays intact")).toDF("id", "text")
    val out = df.orderBy("id")
      .select(TextAnalysis.scrubPii(col("text")))
      .as[String].collect().toSeq
    assert(out == Seq(
      "mail <EMAIL> or <IP> tel <PHONE> now",
      "clean text stays intact"))
  }

  test("scrubBoilerplate drops chunks repeated across many docs") {
    // 2-word chunks; "x y" opens docs 1-3 (> maxDocs=2) → boilerplate;
    // each doc is rebuilt from its surviving chunks, order preserved
    val df = Seq(
      (1L, "x y a b"), (2L, "x y c d"), (3L, "x y e f"), (4L, "g h"))
      .toDF("doc_id", "text")
    val out = TextAnalysis
      .scrubBoilerplate(df, "doc_id", "text", chunkWords = 2, maxDocs = 2)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(out == Seq((1L, "a b"), (2L, "c d"), (3L, "e f"), (4L, "g h")))
  }

  test("langId picks the dominant stopword profile; CJK detected") {
    val df = Seq(
      (1L, "the cat sat on the mat and it is a good day for the walk"),
      (2L, "der hund ist nicht zu hause und die katze ist mit dem kind"),
      (3L, "el perro es de la casa y con un gato en el jardin para todos"),
      (4L, "中文文本处理引擎测试"),
      (5L, "xyzzy qwerty asdfgh zxcvbn")).toDF("id", "text")
    val out = df.select(col("id"),
      TextAnalysis.langId(col("text")).as("lang"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "en")
    assert(out(2L) == "de")
    assert(out(3L) == "es")
    assert(out(4L) == "zh")
    assert(out(5L) == "und")
  }

  test("token counts: whitespace vs bpe-ish") {
    val df = Seq((1L, "hello world42 foo-bar!")).toDF("id", "text")
    val r = df.select(
      TextAnalysis.tokenCount(col("text")).as("ws"),
      TextAnalysis.bpeishTokenCount(col("text")).as("bpe"))
      .as[(Int, Int)].head()
    assert(r._1 == 3)
    // hello | world | 42 | foo | - | bar | ! → 7
    assert(r._2 == 7)
  }

  test("hashedTfIdf: hand-computed weights; bucket sums invariant to dim") {
    val df = Seq((1L, "a a b"), (2L, "b c"), (3L, "c c c"))
      .toDF("doc_id", "text")
    // N=3, df: a=1 b=2 c=2 → d1: 2·ln(4/2)+ln(4/3), d2: 2·ln(4/3),
    // d3: 3·ln(4/3); dim=1 collapses every term into bucket 0
    val one = TextAnalysis.hashedTfIdf(df, "doc_id", "text", dim = 1)
      .select("id", "weight").as[(Long, Double)].collect().toMap
    assert(math.abs(one(1L) - (2 * math.log(2.0) + math.log(4.0 / 3))) < 1e-9)
    assert(math.abs(one(2L) - 2 * math.log(4.0 / 3)) < 1e-9)
    assert(math.abs(one(3L) - 3 * math.log(4.0 / 3)) < 1e-9)
    // at dim=64 the sparse triples sum to the same per-doc mass
    val sums = TextAnalysis.hashedTfIdf(df, "doc_id", "text", dim = 64)
      .groupBy("id").agg(sum("weight").as("s"))
      .select("id", "s").as[(Long, Double)].collect().toMap
    (1L to 3L).foreach(i => assert(math.abs(sums(i) - one(i)) < 1e-9))
  }

  test("bm25: hand-computed Okapi scores, non-matching docs excluded") {
    val df = Seq((1L, "x y"), (2L, "x x x"), (3L, "z"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bm25(df, "doc_id", "text", Seq("x"))
      .select("id", "score").as[(Long, Double)].collect().toMap
    // N=3, df_x=2, avgdl=2 → idf=ln(1.6); d1: tf1,dl2 → idf·1;
    // d2: tf3,dl3 → idf·6.6/4.65; d3 excluded
    val idf = math.log(1.6)
    assert(out.keySet == Set(1L, 2L))
    assert(math.abs(out(1L) - idf) < 1e-9)
    assert(math.abs(out(2L) - idf * (6.6 / 4.65)) < 1e-9)
    // query terms normalize like the corpus tokenizer (lowercase/trim):
    // an uppercase query must NOT silently score tf=0 everywhere
    val up = TextAnalysis.bm25(df, "doc_id", "text", Seq(" X "))
      .select("id", "score").as[(Long, Double)].collect().toMap
    assert(up == out)
  }

  test("quality score rewards normal prose, punishes garbage") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away"),
      (2L, "1 2 3 4 5 6 7 8 9 0 1 2 3 4 5 6 7 8 9 0 ! ! ! !"))
      .toDF("id", "text")
    val out = df.select(col("id"),
      TextAnalysis.qualityScore(col("text")).as("q"))
      .as[(Long, Double)].collect().toMap
    assert(out(1L) > out(2L))
    assert(out(1L) >= 0.75)
  }

  test("winnowing fingerprint: stable under small suffix change") {
    val df = Seq(
      (1L, "a b c d e f g h i j k l m n o p q r s t"),
      (2L, "a b c d e f g h i j k l m n o p q r s t zz"),
      (3L, "totally different words entirely here now"))
      .toDF("id", "text")
    val fps = df.select(col("id"),
      TextAnalysis.winnowingFingerprint(col("text")).as("fp"))
      .as[(Long, Seq[Long])].collect().toMap
    val overlap12 = fps(1L).toSet.intersect(fps(2L).toSet).size.toDouble /
      fps(1L).toSet.union(fps(2L).toSet).size
    val overlap13 = fps(1L).toSet.intersect(fps(3L).toSet).size.toDouble /
      fps(1L).toSet.union(fps(3L).toSet).size
    assert(overlap12 > 0.7)
    assert(overlap13 == 0.0)
  }

  private val base = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bend"),
    (3L, "completely different text about spark query engines and shuffles"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (5L, "another unrelated document mentioning parquet files and columns"))

  test("string doc ids route through a surrogate and come back intact") {
    val named = base.map { case (id, text) => (s"doc-$id", text) }
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(named, "doc_id", "text",
      k = 16, bands = 8, minJaccard = 0.5)
      .select("id_a", "id_b").as[(String, String)].collect()
      .map { case (a, b) => Set(a, b) }.toSet
    // same pair set as the long-id run, with original string ids restored
    assert(pairs.contains(Set("doc-1", "doc-4")))
    assert(pairs.contains(Set("doc-1", "doc-2")))
    assert(!pairs.exists(_.exists(id => id == "doc-3" || id == "doc-5")))
    val sim = Dedup.simhashPairs(named, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(String, String)].collect()
      .map { case (a, b) => Set(a, b) }.toSet
    assert(sim.contains(Set("doc-1", "doc-4")))
  }

  test("md5 shingle frame matches the expression-form md5 shingles") {
    val df = base.toDF("doc_id", "text")
    val kernel = TextAnalysis.md5ShingleFrame(df, "doc_id", "text")
      .as[(Long, Seq[String])].collect().toMap
    // expression form: md5 over each (non-distinct, in-order) shingle
    val toks = split(trim(lower(col("text"))), "\\s+")
    val exprForm = df.select(col("doc_id"),
      transform(sequence(lit(1), greatest(size(toks) - 2, lit(0))),
        i => md5(concat_ws(" ", element_at(toks, i.cast("int")),
          element_at(toks, (i + 1).cast("int")),
          element_at(toks, (i + 2).cast("int"))))).as("hs"))
      .as[(Long, Seq[String])].collect().toMap
    assert(kernel == exprForm)
  }

  test("dedupParagraphs: first occurrence wins corpus-wide, docs " +
      "reassemble in order") {
    val docs = Seq(
      (1L, "aaa\n\nbbb"),
      (2L, "bbb\n\nccc"),
      (3L, "aaa\n\nddd\n\naaa"), // leading + repeated dup of doc 1's
      (4L, "  AAA  "))           // normalization: trims + lowercases
      .toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(docs, "doc_id", "text")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == (("aaa\n\nbbb", 2L, 2L)))
    assert(out(2L) == (("ccc", 2L, 1L)))
    // doc 3: both "aaa" copies lose to (1, 0); "ddd" survives
    assert(out(3L) == (("ddd", 3L, 1L)))
    // doc 4's only paragraph normalizes to "aaa" — all paragraphs
    // gone, row still emitted with empty text
    assert(out(4L) == (("", 1L, 0L)))
    // partitioning must not change winners (min-struct, not head())
    val re = Dedup.dedupParagraphs(docs.repartition(7), "doc_id", "text")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(re == out)
  }

  test("dedupParagraphs: custom separator is taken literally") {
    val docs = Seq((1L, "x|y"), (2L, "y|z")).toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(docs, "doc_id", "text", sep = "|")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(out == Map(1L -> "x|y", 2L -> "z"))
  }
}
