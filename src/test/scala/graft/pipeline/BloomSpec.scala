package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec

class BloomSpec extends SparkSpec {
  import spark.implicits._

  test("buildBits + mightContain: every inserted key tests positive " +
      "(no false negatives); a disjoint probe set stays near the " +
      "design false-positive rate") {
    val ins = (1 to 2000).map(i => s"gram number $i")
    val insDf = ins.toDF("g")
    val hashes = insDf
      .select(xxhash64(col("g")).as("h1"),
        xxhash64(col("g"), lit(1L)).as("h2"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val bits = Bloom.buildBits(hashes, bitsPerKey = 12, numHashes = 5)
    def hits(df: org.apache.spark.sql.DataFrame,
        maxLit: Int = Bloom.literalMaxWords): Long =
      df.filter(Bloom.mightContain(df, bits, xxhash64(col("g")),
        xxhash64(col("g"), lit(1L)), 5, maxLit)).count()
    assert(hits(insDf) == 2000L) // zero false negatives, by construction
    val probe = (1 to 10000).map(i => s"absent key $i").toDF("g")
    val fp = hits(probe)
    // 12 bits/key, 5 hashes ≈ 0.3% design rate; allow generous slack
    assert(fp < 200L, s"false positive count $fp out of 10000")
    // the big-filter broadcast path walks the identical arithmetic:
    // forcing it (maxLiteralWords = 0) must reproduce both counts
    assert(hits(insDf, 0) == 2000L)
    assert(hits(probe, 0) == fp)
  }

  test("benchHashPairs fails with the contract message over its cap " +
      "and collects every pair at it") {
    val grams = (1 to 50).map(i => s"gram $i").toDF("__g")
    val err = intercept[IllegalArgumentException] {
      Bloom.benchHashPairs(grams, maxGrams = 49)
    }
    assert(err.getMessage.contains("more than 49 distinct grams"))
    assert(Bloom.benchHashPairs(grams, maxGrams = 50).length == 50)
  }

  test("bloomContaminationHits is bit-identical to the exact " +
      "contaminationHits; bloomDecontaminated matches decontaminated") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron"),
      (2L, "one two three four five six seven eight nine ten eleven " +
        "twelve thirteen fourteen fifteen"),
      (3L, "clean words entirely different from any benchmark text " +
        "here nothing shared at all today")).toDF("doc_id", "text")
    val bench = Seq(
      "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu",
      "one two three four five six seven eight nine ten eleven " +
        "twelve thirteen").toDF("text")
    val exact = Curation.contaminationHits(docs, "doc_id", "text",
      bench, "text", n = 13).orderBy("doc_id")
      .as[(Long, Long)].collect().toSeq
    val bloomed = Bloom.bloomContaminationHits(docs, "doc_id", "text",
      bench, "text", n = 13).orderBy("doc_id")
      .as[(Long, Long)].collect().toSeq
    assert(exact == bloomed)
    assert(exact.map(_._1) == Seq(1L, 2L))
    val keptExact = Curation.decontaminated(docs, "doc_id", "text",
      bench, "text", n = 13).select("doc_id")
      .as[Long].collect().toSeq
    val keptBloom = Bloom.bloomDecontaminated(docs, "doc_id", "text",
      bench, "text", n = 13).select("doc_id")
      .as[Long].collect().toSeq
    assert(keptExact == Seq(3L) && keptBloom == Seq(3L))
  }
}
