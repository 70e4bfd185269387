package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** The shape every caller of `Curation.prefixSum` must keep: with AQE's
  * partition coalescing off, so the range shuffle keeps several
  * partitions, two different actions on one returned frame both answer
  * the sequential reference (the range boundaries are not re-sampled
  * between them), nothing is left persisted, and the final plan has no
  * hash exchange on a partition id. */
object PrefixSumCheck extends AdaptiveSparkPlanHelper {
  import org.scalatest.Assertions._

  def apply(spark: SparkSession)(build: => DataFrame)(
      actions: DataFrame => Unit): Unit = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val out = build
      assert(out.rdd.getNumPartitions > 1,
        "one partition: the check needs several")
      actions(out)
      assert(sc.getPersistentRDDs.keySet == before,
        "the operator left a cached frame behind")
      val plan = out.queryExecution.executedPlan
      val pidExchanges = collectWithSubqueries(plan) {
        case e: ShuffleExchangeExec if (e.outputPartitioning match {
          case h: HashPartitioning =>
            h.expressions.exists(_.references.exists(_.name == "__pid"))
          case _ => false
        }) => e
      }
      assert(pidExchanges.isEmpty, s"hash exchange on __pid:\n$plan")
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }
}
