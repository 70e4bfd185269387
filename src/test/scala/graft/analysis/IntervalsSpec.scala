package graft.analysis

import org.apache.spark.sql.functions._
import graft.{PrefixSumCheck, SparkSpec}

class IntervalsSpec extends SparkSpec {
  import spark.implicits._

  private def iv(rows: (Int, Double, Double)*): org.apache.spark.sql.DataFrame =
    rows.toDF("id", "s", "e")

  test("overlapJoin: hand-derived pairs, exactly once each") {
    // A=[0,10) B=[5,8) C=[10,12) D=[11,30)
    // overlaps: A-B (5s..8s), C-D (11..12). A-C touch at 10 -> half-open, no.
    val left = iv((1, 0.0, 10.0), (3, 10.0, 12.0))
      .toDF("lid", "ls", "le")
    val right = iv((2, 5.0, 8.0), (4, 11.0, 30.0))
      .toDF("rid", "rs", "re")
    for (bucket <- Seq(1L, 3L, 100L)) {
      val got = Intervals.overlapJoin(left, right, "ls", "le", "rs", "re",
          bucketSeconds = bucket)
        .select("lid", "rid", "overlap_seconds")
        .as[(Int, Int, Double)].collect().sortBy(t => (t._1, t._2))
      assert(got.toSeq == Seq((1, 2, 3.0), (3, 4, 1.0)),
        s"bucket=$bucket")
    }
  }

  test("overlapJoin: no duplicate pair when both spans cover many buckets") {
    val left = iv((1, 0.0, 100.0)).toDF("lid", "ls", "le")
    val right = iv((2, 50.0, 90.0)).toDF("rid", "rs", "re")
    val got = Intervals.overlapJoin(left, right, "ls", "le", "rs", "re", 7L)
    assert(got.count() == 1L)
    assert(got.select("overlap_seconds").head().getDouble(0) == 40.0)
  }

  test("overlapJoin: fan-out guard trips loudly") {
    val left = iv((1, 0.0, 1e7)).toDF("lid", "ls", "le")
    val right = iv((2, 1.0, 2.0)).toDF("rid", "rs", "re")
    val e = intercept[IllegalArgumentException] {
      Intervals.overlapJoin(left, right, "ls", "le", "rs", "re", 1L,
        maxBucketsPerInterval = 1000L)
    }
    assert(e.getMessage.contains("buckets"))
  }

  test("overlapJoin: rejects shared column names") {
    val l = iv((1, 0.0, 1.0)); val r = iv((2, 0.0, 1.0))
    val e = intercept[IllegalArgumentException] {
      Intervals.overlapJoin(l, r, "s", "e", "s", "e", 10L)
    }
    assert(e.getMessage.contains("disjoint"))
  }

  test("concurrency: hand-derived step function, half-open ends") {
    // [0,10) [5,8) [8,9) [10,11): at t=8 one ends and one starts (net 0);
    // at t=10 one ends and one starts (net 0).
    val df = iv((1, 0.0, 10.0), (2, 5.0, 8.0), (3, 8.0, 9.0),
      (4, 10.0, 11.0))
    val got = Intervals.concurrency(df, "s", "e")
      .as[(Double, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(0.0 -> 1L, 5.0 -> 2L, 8.0 -> 2L, 9.0 -> 1L,
      10.0 -> 1L, 11.0 -> 0L))
  }

  test("concurrency: matches a sequential sweep on random intervals") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 500).map { i =>
      val s = rnd.nextInt(1000).toDouble
      (i, s, s + 1 + rnd.nextInt(200))
    }
    val got = Intervals.concurrency(iv(rows: _*), "s", "e")
      .as[(Double, Long)].collect().sortBy(_._1)
    val ref = sweepReference(rows)
    assert(got.toSeq == ref)
    // conservation: final active count is zero
    assert(got.last._2 == 0L)
  }

  // sequential reference: sort all boundary deltas, running-sum them
  private def sweepReference(rows: Seq[(Int, Double, Double)])
      : Seq[(Double, Long)] =
    rows.flatMap { case (_, s, e) => Seq(s -> 1L, e -> -1L) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      .sortBy(_._1)
      .scanLeft(0.0 -> 0L) { case ((_, acc), (t, d)) => t -> (acc + d) }
      .tail

  test("concurrency: two actions, one range shuffle, no cache") {
    val rnd = new scala.util.Random(3)
    val rows = (1 to 400).map { i =>
      val s = rnd.nextInt(2000).toDouble
      (i, s, s + 1 + rnd.nextInt(300))
    }
    val want = sweepReference(rows)
    PrefixSumCheck(spark)(
        Intervals.concurrency(iv(rows: _*).repartition(3), "s", "e")) {
      out =>
        assert(out.as[(Double, Long)].collect().sortBy(_._1).toSeq == want)
        assert(out.agg(max("active"), count(lit(1))).as[(Long, Long)]
          .head() == ((want.map(_._2).max, want.size.toLong)))
    }
  }

  test("concurrencyByKey: independent sweeps per key") {
    val df = Seq(("a", 0.0, 10.0), ("a", 5.0, 8.0), ("b", 0.0, 2.0))
      .toDF("k", "s", "e")
    val got = Intervals.concurrencyByKey(df, Seq("k"), "s", "e")
      .as[(String, Double, Long)].collect()
      .sortBy(t => (t._1, t._2))
    assert(got.toSeq == Seq(("a", 0.0, 1L), ("a", 5.0, 2L), ("a", 8.0, 1L),
      ("a", 10.0, 0L), ("b", 0.0, 1L), ("b", 2.0, 0L)))
  }
}
