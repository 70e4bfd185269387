package graft

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{col, lit, sum}
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

/** What a session built by `LocalSession.builder` keeps across queries:
  * the compiled classes of a working set larger than Spark's default
  * 100-entry codegen cache, and no more status history than its caps. */
class LocalSessionSpec extends SparkSpec with Eventually {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  // Long literals are inlined into the generated source, so every distinct
  // window is a new class body (driver side and executor side).
  private def windowSum(lo: Long): Long =
    spark.range(0, 100000)
      .filter(col("id") >= lit(lo) && col("id") < lit(lo + 10))
      .agg(sum("id")).head().getLong(0)

  private def expectedSum(lo: Long): Long = (lo until lo + 10).sum

  test("a plan shape run again after more than 100 other classes compiles nothing") {
    val first = 7L
    assert(windowSum(first) == expectedSum(first))
    val afterFirst = compiles
    (1 to 60).foreach { i =>
      val lo = 1000L * i
      assert(windowSum(lo) == expectedSum(lo))
    }
    assert(compiles - afterFirst > 100,
      "the other windows must compile more classes than the default cache holds")
    val before = compiles
    assert(windowSum(first) == expectedSum(first))
    assert(compiles == before, "the first window's classes were evicted")
  }

  test("status history stays bounded: the stages of one job group, SQL executions") {
    val sc = spark.sparkContext
    val conf = sc.getConf
    val stageCap = conf.get("spark.ui.retainedStages").toInt
    val sqlCap = conf.get("spark.sql.ui.retainedExecutions").toInt
    val group = "local-session-spec-retention"
    val stages = mutable.ArrayBuffer.empty[Int]
    val executions = mutable.ArrayBuffer.empty[Long]
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group))
          stages.synchronized(stages += e.stageInfo.stageId)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          executions.synchronized(executions += s.executionId)
        case _ =>
      }
    }
    // every entry below has reached the store once the newest one has
    // (the store's listener sees events in order); then the older ones
    // beyond the cap must be gone
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "retention")
      try (1 to 2 * stageCap).foreach(_ => sc.parallelize(Seq(1), 1).count())
      finally sc.clearJobGroup()
      eventually(timeout(Span(30, Seconds))) {
        assert(stages.synchronized(stages.size) == 2 * stageCap)
      }
      eventually(timeout(Span(30, Seconds))) {
        val kept =
          stages.filter(id => sc.statusTracker.getStageInfo(id).isDefined)
        assert(kept.contains(stages.max))
        assert(kept.size <= stageCap)
      }

      (1 to 2 * sqlCap).foreach(_ => spark.range(1).collect())
      eventually(timeout(Span(30, Seconds))) {
        assert(executions.synchronized(executions.size) >= 2 * sqlCap)
      }
    } finally sc.removeSparkListener(listener)
    val store = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.statusStore
    eventually(timeout(Span(30, Seconds))) {
      assert(store.execution(executions.max).isDefined)
      assert(store.executionsCount() <= sqlCap)
    }
  }
}
