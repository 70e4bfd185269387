package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.pipeline.{Dedup, Manifest}

/** [[CompactionPolicy]] — the cadence decision over the proven
  * maintenance verbs: the partition-count arm counts manifest
  * generations, the drift arm fires on the wall-ratio and refuses to
  * schedule a corpus rewrite off fewer than 3 samples, and a healthy
  * pair decides false. */
class CompactionPolicySpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    2L -> "completely different text about spark query engines and shuffles")
    .toDF("doc_id", "text")

  test("generations counts manifest entries, a replayed batch adds " +
      "none, and a missing dir counts 0") {
    val root = Files.createTempDirectory("policy_gen").toString
    val man = s"$root/manifest"
    Manifest.append(spark, man,
      Dedup.signatureStore(corpus, "doc_id", "text"), -1L)
    Manifest.append(spark, man,
      Dedup.signatureStore(corpus, "doc_id", "text"), 0L)
    assert(CompactionPolicy.generations(spark, man) == 2)
    // a replayed batch upserts its entry: still two generations
    Manifest.append(spark, man,
      Dedup.signatureStore(corpus, "doc_id", "text"), 0L)
    assert(CompactionPolicy.generations(spark, man) == 2)

    assert(CompactionPolicy.generations(spark, s"$root/nowhere") == 0)
  }

  test("evaluate: partition-count arm, drift arm, minimum drift " +
      "samples, healthy pair is false") {
    val root = Files.createTempDirectory("policy_eval").toString
    val store = s"$root/store"
    (-1 to 3).foreach { b =>
      Manifest.append(spark, store,
        Dedup.signatureStore(corpus, "doc_id", "text"), b.toLong)
    }
    // 5 partitions > 4: the count arm fires (out dir absent -> 0)
    val d1 = CompactionPolicy.evaluate(spark, store, s"$root/out",
      maxPartitions = 4)
    assert(d1.compact && d1.partitions == 5 &&
      d1.reason.contains("partitions"))
    // 5 <= 8 and no walls: nothing fires
    val d2 = CompactionPolicy.evaluate(spark, store, s"$root/out",
      maxPartitions = 8)
    assert(!d2.compact && d2.reason.isEmpty)
    // drift arm: recent mean 2.0 vs baseline 1.0 > 1.3x
    val d3 = CompactionPolicy.evaluate(spark, store, s"$root/out",
      maxPartitions = 8,
      recentWalls = Seq(2.0, 2.0, 2.0),
      baselineWalls = Seq(1.0, 1.0, 1.0))
    assert(d3.compact && d3.drift > 1.9 && d3.reason.contains("drift"))
    // fewer than 3 samples on either side: the drift arm stays quiet
    val d4 = CompactionPolicy.evaluate(spark, store, s"$root/out",
      maxPartitions = 8,
      recentWalls = Seq(9.0, 9.0),
      baselineWalls = Seq(1.0, 1.0, 1.0))
    assert(!d4.compact && d4.drift == 1.0)
  }
}
