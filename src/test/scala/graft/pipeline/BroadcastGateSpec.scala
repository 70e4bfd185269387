package graft.pipeline

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.streaming.IngestStream

/** The size gate on the broadcast-ingest fast path
  * ([[Sizing.broadcastableBatch]], read by
  * [[Dedup.crossCorpusPairsFromStore]] itself): at bench scale the
  * batch clears the cap and the band join BROADCASTS the new side;
  * above the cap (lowered here via conf) the same call falls back to
  * the shuffled sort-merge band join — identical output, no broadcast
  * hint. This pins VERDICT-r18 "What's wrong #1": an explicit
  * broadcast() hint bypasses autoBroadcastJoinThreshold, so an
  * un-gated corpus-fraction batch would force the broadcast build at
  * any scale. The streaming loop obeys the same gate. */
class BroadcastGateSpec extends SparkSpec {
  import spark.implicits._

  private val texts = Seq(
    1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    2L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa xx",
    3L -> "spark shuffles partition data across executors during wide joins",
    4L -> "a lone document resembling nothing else in this tiny corpus",
    5L -> "quick brown foxes jump over lazy dogs near quiet river banks")

  private def corpus = texts.toDF("doc_id", "text")

  private def withConf(k: String, v: String)(body: => Unit): Unit = {
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body
    finally prev match {
      case Some(p) => spark.conf.set(k, p)
      case None => spark.conf.unset(k)
    }
  }

  /** Above the gate's cap, with auto-broadcast off (the corpus-scale
    * condition the lowered cap simulates). */
  private def aboveCap(body: => Unit): Unit =
    withConf(Sizing.MaxBroadcastBatchBytesKey, "1") {
      withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(body)
    }

  test("gate passes small batches and refuses above the cap / unknowns") {
    val batch = corpus.filter(col("doc_id") % 2 === 0)
    assert(Sizing.broadcastableBatch(batch))
    withConf(Sizing.MaxBroadcastBatchBytesKey, "1") {
      assert(!Sizing.broadcastableBatch(batch))
    }
  }

  test("below the cap the band join broadcasts; above it, sort-merge") {
    val store = Dedup.signatureStore(
      corpus.filter(col("doc_id") <= 3), "doc_id", "text",
      k = 16, shingleN = 3)
    val batch = corpus.filter(col("doc_id") >= 4)
    def plan(): String =
      Dedup.crossCorpusPairsFromStore(batch, "doc_id", "text", store,
        k = 16, bands = 8, shingleN = 3, minJaccard = 0.7)
        .queryExecution.sparkPlan.toString
    // bench-scale shape: the gate passes and the new side rides a
    // broadcast band join
    assert(Sizing.broadcastableBatch(batch))
    assert(plan().contains("BroadcastHashJoin"))
    // above the cap the gate refuses and the same call plans a
    // shuffled sort-merge band join — no broadcast build
    aboveCap {
      assert(!Sizing.broadcastableBatch(batch))
      val p = plan()
      assert(p.contains("SortMergeJoin"))
      assert(!p.contains("BroadcastHashJoin"))
    }
  }

  test("both paths answer the identical pair set") {
    val store = Dedup.signatureStore(
      corpus.filter(col("doc_id") <= 3), "doc_id", "text",
      k = 16, shingleN = 3)
    val batch = corpus
      .filter(col("doc_id") >= 4)
      .unionByName(Seq(
        6L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa yy")
        .toDF("doc_id", "text"))
    def pairs(): Set[(Long, Long)] =
      Dedup.crossCorpusPairsFromStore(batch, "doc_id", "text", store,
        k = 16, bands = 8, shingleN = 3, minJaccard = 0.7)
        .select("new_id", "kept_id").as[(Long, Long)].collect().toSet
    val b = pairs()
    var s = Set.empty[(Long, Long)]
    aboveCap { s = pairs() }
    assert(b == s)
    assert(b.nonEmpty) // doc 6 near-dups docs 1/2 via the store
  }

  /** Physical plans of every action one `startManifest` micro-batch
    * runs, captured by a QueryExecutionListener (the stream's session
    * clones the listener and the conf at start). */
  private def ingestPlans(): Seq[String] = {
    val root = Files.createTempDirectory("gate_stream").toString
    Manifest.append(spark, s"$root/store", Dedup.signatureStore(
      corpus.filter(col("doc_id") <= 3), "doc_id", "text"), -1L)
    val plans = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution,
          d: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = MemoryStream[(Long, String)]
      val q = IngestStream.startManifest(mem.toDF().toDF("doc_id", "text"),
        "doc_id", "text", s"$root/store", s"$root/out", s"$root/ckpt")
      try {
        mem.addData(texts.filter(_._1 >= 4) :+ (6L ->
          "alpha beta gamma delta epsilon zeta eta theta iota kappa yy"))
        q.processAllAvailable()
      } finally q.stop()
      // listener events arrive in order on the listener bus: once a
      // later marker action is seen, every micro-batch plan is in
      spark.range(1).select(lit("gate-marker")).collect()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!plans.asScala.exists(_.contains("gate-marker")) &&
          System.nanoTime() < deadline) Thread.sleep(50)
      assert(plans.asScala.exists(_.contains("gate-marker")))
      // the batch really went through the match: doc 6 dropped
      assert(Manifest.rows(spark, s"$root/out").select("doc_id")
        .as[Long].collect().toSet == Set(4L, 5L))
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  test("streaming ingest obeys the byte gate: above the cap the band " +
      "join sort-merges; below it, it broadcasts") {
    // auto-broadcast stays off in both runs, so a BroadcastHashJoin
    // can only come from the gate's own hint
    aboveCap {
      val plans = ingestPlans()
      assert(plans.exists(_.contains("SortMergeJoin")))
      assert(!plans.exists(_.contains("BroadcastHashJoin")),
        plans.filter(_.contains("BroadcastHashJoin")).mkString("\n"))
    }
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      assert(ingestPlans().exists(_.contains("BroadcastHashJoin")))
    }
  }
}
