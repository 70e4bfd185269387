package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

class TopKSpec extends SparkSpec {
  import spark.implicits._

  /** The unbounded sorted-slice shape — the parity oracle. */
  private def sortedSlice(df: org.apache.spark.sql.DataFrame, n: Int) =
    df.groupBy("g")
      .agg(slice(array_sort(collect_list(struct(col("s"), col("id")))),
        1, n).as("xs"))
      .select(col("g"), explode(col("xs")).as("x"))
      .select(col("g"), col("x.s"), col("x.id"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2)))
      .toSet

  private def smallest(n: Int) =
    ColumnBridge.smallestN(struct(col("s"), col("id")), n).as("xs")

  private def viaSmallestN(df: org.apache.spark.sql.DataFrame, n: Int) =
    df.groupBy("g")
      .agg(smallest(n))
      .select(col("g"), explode(col("xs")).as("x"))
      .select(col("g"), col("x.s"), col("x.id"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2)))
      .toSet

  test("matches the sorted-slice shape it replaced, across " +
      "partitionings, including score ties") {
    val rows = for {
      g <- 0 until 4
      i <- 0 until 200
    } yield (g, (i % 17).toDouble, (i * 31 % 200).toLong) // many ties
    for (parts <- Seq(1, 7, 32)) {
      val df = rows.toDF("g", "s", "id").repartition(parts)
      assert(viaSmallestN(df, 5) == sortedSlice(df, 5), s"parts=$parts")
      assert(viaSmallestN(df, 50) == sortedSlice(df, 50), s"parts=$parts")
    }
  }

  test("keeps fewer than n when the group is small; exactly n otherwise") {
    val df = Seq((0, 1.0, 1L), (0, 2.0, 2L), (1, 3.0, 3L))
      .toDF("g", "s", "id")
    val byG = df.groupBy("g")
      .agg(smallest(5))
      .select(col("g"), size(col("xs")).as("n"))
      .as[(Int, Int)].collect().toMap
    assert(byG == Map(0 -> 2, 1 -> 1))
  }

  test("edge scores: -0.0 sorts with +0.0 (Spark comparator parity) " +
      "and NaN sorts largest") {
    // the +0.0 row carries the SMALLER id and the -0.0 row the larger:
    // the normalized comparator ties them and breaks on id (1 before
    // 2); a raw java.lang.Double.compare would instead sort -0.0
    // strictly first (2 before 1) — so this ordering actually detects
    // a dropped normalization
    val df = Seq(
      (0, 0.0, 1L), (0, -0.0, 2L), (0, Double.NaN, 0L), (0, -1.0, 9L))
      .toDF("g", "s", "id").repartition(3)
    val ids = df.groupBy("g")
      .agg(smallest(4))
      .select(explode(col("xs")).as("x")).select(col("x.id"))
      .as[Long].collect().toSeq
    assert(ids == Seq(9L, 1L, 2L, 0L), ids)
  }

  test("buffer stays bounded: a skewed group far larger than n still " +
      "aggregates (state is ≤ 2n, not partition-sized)") {
    val big = (0 until 100000).map(i => (0, i.toDouble, i.toLong))
    val df = big.toDF("g", "s", "id").repartition(16)
    // the partial aggregate runs before the exchange, so each
    // partition ships at most n values per group
    val plan = df.groupBy("g").agg(smallest(3))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_collect_top_k"), plan)
    val out = viaSmallestN(df, 3)
    assert(out == Set((0, 0.0, 0L), (0, 1.0, 1L), (0, 2.0, 2L)))
  }
}
