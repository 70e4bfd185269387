package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.analysis.{Agreement, Calibration, Robust, Slo}
import graft.pipeline.TextAnalysis

/** Operators whose result reads one subplan from several branches
  * share it through the plan (exchange reuse, a window, a conditional
  * or tagged aggregate), never through an internal cache: each action
  * leaves the session's persistent-RDD set as it found it, and the
  * final adaptive plan scans the parquet input once — twice for
  * winsorize, whose clamp is a second pass over the input rows. */
class SharedSubplanSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private lazy val dir = Files.createTempDirectory("shared-subplan")

  private def parquet(name: String, df: DataFrame): DataFrame = {
    val path = dir.resolve(name).toString
    df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  private lazy val docs = parquet("docs", (1 to 240).map { i =>
    val body = (0 until 12).map(j => s"w${(i * 7 + j * 3) % 23}")
      .mkString(" ")
    (i.toLong, s"src${i % 4}", s"shared boilerplate header line for " +
      s"every page of the site $body new york city tail${i % 5}")
  }.toDF("doc_id", "source", "text"))

  private lazy val events = parquet("events", (0 until 600).map { i =>
    (new Timestamp(1700000000000L + i * 7000L), i % 9 == 0)
  }.toDF("ts", "is_err"))

  private lazy val labels = parquet("labels", (1 to 500).map { i =>
    (s"l${i % 5}", if (i % 11 == 0) null else s"l${(i * 7) % 5}")
  }.toDF("a", "b"))

  private lazy val series = parquet("series", (0 until 400).map { i =>
    (s"k${i % 4}", i.toLong, if (i == 77) 500.0 else (i % 10).toDouble)
  }.toDF("key", "bucket", "x"))

  private lazy val scores = parquet("scores", (0 until 500).map { i =>
    (((i * 37) % 101) / 100.0, if ((i * 37) % 101 > 45) 1 else 0)
  }.toDF("score", "label"))

  /** Plain parquet scans in the final adaptive plan, query stages and
    * subqueries included; a reused exchange is not a scan. */
  private def scans(plan: SparkPlan): Int =
    collectWithSubqueries(plan) { case s: FileSourceScanExec => s }.size

  private def check(out: DataFrame, maxScans: Int): Unit = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    assert(out.collect().nonEmpty, "the check needs a non-empty result")
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "the operator left a cached frame behind")
    val n = scans(out.queryExecution.executedPlan)
    assert(n >= 1 && n <= maxScans,
      s"$n input scans, at most $maxScans expected:\n" +
        out.queryExecution.executedPlan)
  }

  test("vocabStats scans once and caches nothing") {
    check(TextAnalysis.vocabStats(docs, "text", 10), 1)
  }

  test("pmiBigrams scans once and caches nothing") {
    check(TextAnalysis.pmiBigrams(docs, "text", 2L, 10), 1)
  }

  test("mixtureDiversity scans once and caches nothing") {
    check(TextAnalysis.mixtureDiversity(docs, Seq("source")), 1)
  }

  test("charEntropyCells scans once and caches nothing") {
    check(TextAnalysis.charEntropyCells(docs, "doc_id", "text"), 1)
  }

  test("vocabOverlap scans once and caches nothing") {
    check(TextAnalysis.vocabOverlap(docs, "source", "text"), 1)
  }

  test("scrubBoilerplate scans once and caches nothing") {
    check(TextAnalysis.scrubBoilerplate(docs, "doc_id", "text"), 1)
  }

  test("burnRates and multiWindowAlert scan once and cache nothing") {
    check(Slo.burnRates(events, "ts", col("is_err"), 60L,
      Seq(120L, 600L), 0.1), 1)
    check(Slo.multiWindowAlert(events, "ts", col("is_err"), 60L, 120L,
      600L, 0.1, 2.0), 1)
  }

  test("cohenKappa scans once and caches nothing") {
    check(Agreement.cohenKappa(labels, "a", "b"), 1)
  }

  test("madOutliers scans once and caches nothing") {
    check(Robust.madOutliers(series, Seq("key"), "bucket", "x"), 1)
  }

  test("winsorize scans twice (bounds, then the clamp) and caches " +
      "nothing") {
    check(Robust.winsorize(series, Seq("key"), "x", 0.1, 0.9), 2)
  }

  test("reliabilityBins scans once and caches nothing") {
    check(Calibration.reliabilityBins(scores, "score", "label"), 1)
  }

  test("prCurve scans once and caches nothing") {
    check(Calibration.prCurve(scores, "score", "label"), 1)
  }
}
