package graft.compile

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ir._

class MvRouterSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String): Timestamp = Timestamp.valueOf(s)

  private lazy val raw = Seq(
    (t("2024-01-01 00:10:00"), "a", 10.0),
    (t("2024-01-01 00:40:00"), "a", 20.0),
    (t("2024-01-01 01:10:00"), "b", 5.0),
    (t("2024-01-02 02:00:00"), "a", 7.0)).toDF("ts", "svc", "v")

  private lazy val rollup =
    MvRouter.buildRollup(raw, "ts", 3600, Seq("svc"), Seq("v"))

  private val q = Query(
    select = Seq(
      SelectItem("", Some("cnt"), Some(AggFn.Count)),
      SelectItem("v", Some("sum_v"), Some(AggFn.Sum)),
      SelectItem("v", Some("avg_v"), Some(AggFn.Avg))),
    from = "raw",
    groupBy = Seq("svc"),
    granularity = Some(Granularity.Fixed(86400)))

  test("routable query answered from the rollup matches direct compile") {
    val routed = MvRouter.tryRoute(q, rollup)
    assert(routed.isDefined)
    val got = routed.get
      .orderBy("__time_bucket", "svc")
      .select("svc", "cnt", "sum_v", "avg_v")
      .as[(String, Long, Double, Double)].collect().toSeq
    assert(got == Seq(
      ("a", 2L, 30.0, 15.0), ("b", 1L, 5.0, 5.0), ("a", 1L, 7.0, 7.0)))
  }

  test("vetoes: finer granularity, non-multiple, unknown dim, quantile") {
    assert(MvRouter.tryRoute(
      q.copy(granularity = Some(Granularity.Fixed(60))), rollup).isEmpty)
    assert(MvRouter.tryRoute(
      q.copy(granularity = Some(Granularity.Fixed(5400))), rollup).isEmpty)
    assert(MvRouter.tryRoute(q.copy(groupBy = Seq("other")), rollup).isEmpty)
    assert(MvRouter.tryRoute(q.copy(select = Seq(SelectItem("v", Some("p"),
      Some(AggFn.Quantile(0.5))))), rollup).isEmpty)
    assert(MvRouter.tryRoute(q.copy(where = Some(Cond.Sql("v > 1"))),
      rollup).isEmpty)
  }

  test("dim filters applied on the rollup") {
    val routed = MvRouter.tryRoute(
      q.copy(filters = Seq(Filter.Included("svc", Seq("a")))), rollup)
    assert(routed.isDefined)
    val svcs = routed.get.select("svc").distinct().as[String].collect()
    assert(svcs.toSeq == Seq("a"))
  }

  test("sketch rollup routes quantile + count_distinct, matching raw") {
    val sketchy = MvRouter.buildRollup(raw, "ts", 3600, Seq("svc"),
      Seq("v"), withSketches = true)
    val sq = q.copy(select = Seq(
      SelectItem("v", Some("p50"), Some(AggFn.Quantile(0.5))),
      SelectItem("v", Some("uniq_v"), Some(AggFn.CountDistinct))))
    val routed = MvRouter.tryRoute(sq, sketchy)
    assert(routed.isDefined)
    val got = routed.get.orderBy("__time_bucket", "svc")
      .select("svc", "p50", "uniq_v")
      .as[(String, Double, Long)].collect().toSeq
    // day 1 svc a: values 10, 20 → p50 = 15 (interpolated), 2 distinct;
    // day 1 svc b: 5 → 5, 1; day 2 svc a: 7 → 7, 1
    assert(got == Seq(("a", 15.0, 2L), ("b", 5.0, 1L), ("a", 7.0, 1L)))
  }

  test("sketch-routed count_distinct counts -0.0 as +0.0 and NaN once, " +
      "like the raw count(DISTINCT)") {
    val edge = Seq(0.0, -0.0, Double.NaN, 1.0)
      .map(v => (t("2024-01-01 00:10:00"), "a", v)).toDF("ts", "svc", "v")
    val sketchy = MvRouter.buildRollup(edge, "ts", 3600, Seq("svc"),
      Seq("v"), withSketches = true)
    val dq = q.copy(select = Seq(
      SelectItem("v", Some("uniq_v"), Some(AggFn.CountDistinct))))
    val routed = MvRouter.tryRoute(dq, sketchy).get
      .select("uniq_v").as[Long].collect().toSeq
    val raw = edge.agg(countDistinct($"v")).as[Long].collect().toSeq
    assert(raw == Seq(3L))
    assert(routed == raw)
  }

  test("compacted rollup answers the same query with the same values") {
    val sketchy = MvRouter.buildRollup(raw, "ts", 3600, Seq("svc"),
      Seq("v"), withSketches = true)
    val compacted = MvRouter.compactRollup(sketchy, 21600)
    assert(compacted.granularitySeconds == 21600)
    // fewer or equal cells after tiering
    assert(compacted.df.count() <= sketchy.df.count())
    val sq = q.copy(select = Seq(
      SelectItem("", Some("cnt"), Some(AggFn.Count)),
      SelectItem("v", Some("sum_v"), Some(AggFn.Sum)),
      SelectItem("v", Some("p50"), Some(AggFn.Quantile(0.5))),
      SelectItem("v", Some("uniq_v"), Some(AggFn.CountDistinct))))
    def run(r: MvRouter.Rollup) = MvRouter.tryRoute(sq, r).get
      .orderBy("__time_bucket", "svc")
      .select("svc", "cnt", "sum_v", "p50", "uniq_v")
      .as[(String, Long, Double, Double, Long)].collect().toSeq
    assert(run(compacted) == run(sketchy))
    // a finer query than the compacted granularity is vetoed again
    assert(MvRouter.tryRoute(
      sq.copy(granularity = Some(Granularity.Fixed(3600))),
      compacted).isEmpty)
  }

  test("compaction can aggregate dims away; guards stay loud") {
    val sketchy = MvRouter.buildRollup(raw, "ts", 3600, Seq("svc"),
      Seq("v"), withSketches = true)
    val noDims = MvRouter.compactRollup(sketchy, 86400, Some(Seq.empty))
    val sq = q.copy(groupBy = Seq.empty, select = Seq(
      SelectItem("", Some("cnt"), Some(AggFn.Count)),
      SelectItem("v", Some("uniq_v"), Some(AggFn.CountDistinct))))
    val got = MvRouter.tryRoute(sq, noDims).get
      .orderBy("__time_bucket").select("cnt", "uniq_v")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((3L, 3L), (1L, 1L)))
    // svc-grouped queries no longer route: the dim was aggregated away
    assert(MvRouter.tryRoute(q.copy(select = Seq(
      SelectItem("", Some("cnt"), Some(AggFn.Count)))), noDims).isEmpty)
    intercept[IllegalArgumentException] {
      MvRouter.compactRollup(sketchy, 5400) // not a multiple
    }
    intercept[IllegalArgumentException] {
      MvRouter.compactRollup(sketchy, 7200, Some(Seq("nope")))
    }
  }
}

class SeriesSpec extends SparkSpec {
  import spark.implicits._

  test("compareWindow overlays the previous period per group") {
    val df = Seq(
      (0L, "a", 10L), (0L, "b", 1L),
      (600L, "a", 20L),
      (1200L, "a", 30L), (1200L, "b", 3L)).toDF("bucket", "s", "value")
    val out = Series.compareWindow(df, "bucket", "value", 600, Seq("s"))
      .select("bucket", "s", "value", "prev_value")
      .as[(Long, String, Long, Option[Long])].collect().toSet
    assert(out == Set(
      (0L, "a", 10L, None), (0L, "b", 1L, None),
      (600L, "a", 20L, Some(10L)),
      (1200L, "a", 30L, Some(20L)), (1200L, "b", 3L, None)))
    val e = intercept[IllegalArgumentException] {
      Series.compareWindow(
        Seq((Timestamp.valueOf("2024-01-01 00:00:00"), 1L))
          .toDF("bucket", "value"), "bucket", "value", 600)
    }
    assert(e.getMessage.contains("epoch-second"))
  }

  test("fillGaps inserts zero rows for missing buckets per group") {
    val df = Seq(
      (Timestamp.valueOf("2024-01-01 00:00:00"), "a", 3L),
      (Timestamp.valueOf("2024-01-01 00:02:00"), "a", 5L))
      .toDF("__time_bucket", "svc", "cnt")
    val filled = Series.fillGaps(df, "__time_bucket", 60,
      QueryCompiler.range("2024-01-01T00:00:00Z", "2024-01-01T00:02:00Z"),
      Seq("svc"), Map("cnt" -> lit(0L)))
    val rows = filled.orderBy("__time_bucket")
      .select("cnt").as[Long].collect().toSeq
    assert(rows == Seq(3L, 0L, 5L))
  }

  test("ratio per_group and share_of_total") {
    val df = Seq(
      (Timestamp.valueOf("2024-01-01 00:00:00"), "a", Some(8L), 2L),
      (Timestamp.valueOf("2024-01-01 00:00:00"), "b", Some(2L), 0L),
      (Timestamp.valueOf("2024-01-01 00:00:00"), "c", None, 2L))
      .toDF("__time_bucket", "svc", "n", "d")
    val per = Series.ratio(df, RatioMode.PerGroup, "n", "d")
      .orderBy("svc").select("ratio").collect()
    assert(per(0).getDouble(0) == 4.0)
    assert(per(1).isNullAt(0)) // divide by zero → null
    assert(per(2).getDouble(0) == 0.0) // missing numerator → 0, not N/A
    // share_of_total divides by the DENOMINATOR's bucket total (2+0+2)
    val share = Series.ratio(df, RatioMode.ShareOfTotal, "n", "d")
      .orderBy("svc").select("ratio").as[Double].collect().toSeq
    assert(share == Seq(2.0, 0.5, 0.0))
  }
}

class MetadataSpec extends SparkSpec {

  test("seriesSets dedups an Attributes key that shadows a physical " +
      "column — one label per name, the column wins") {
    import spark.implicits._
    val df = Seq(
      ("value", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        "click", Map("ServiceName" -> "shadow", "user" -> "u1")))
      .toDF("MetricName", "TimeUnix", "ServiceName", "Attributes")
    val sets = graft.meta.Metadata.seriesSets(df, Seq("value")).collect()
    assert(sets.length == 1)
    val labels = sets.head.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getString(1)))
    // exactly ONE ServiceName label, and it is the physical column's
    // value — duplicate label names are invalid Prometheus label sets
    assert(labels.count(_._1 == "ServiceName") == 1, labels)
    assert(labels.contains(("ServiceName", "click")), labels)
    assert(labels.contains(("user", "u1")), labels)
  }

  test("map keys / values / keyValues / distribution") {
    import spark.implicits._
    val df = Seq(
      ("a", Map("env" -> "prod", "host" -> "h1"), 10.0),
      ("b", Map("env" -> "dev"), 20.0),
      ("c", Map("env" -> "prod"), 30.0)).toDF("id", "attrs", "v")
    val keys = graft.meta.Metadata.mapKeys(df, "attrs")
      .as[(String, Long)].collect().toSeq
    assert(keys == Seq(("env", 3L), ("host", 1L)))
    val vals = graft.meta.Metadata.mapValues(df, "attrs", "env")
      .as[(String, Long)].collect().toSeq
    assert(vals == Seq(("prod", 2L), ("dev", 1L)))
    val kv = graft.meta.Metadata.keyValues(df, Seq("id"), 2)
    assert(kv.collect().head.getSeq[String](1).length == 2)
    val dist = graft.meta.Metadata.valuesDistribution(df, "v").collect().head
    assert(dist.getAs[Long]("cnt") == 3L)
    assert(dist.getAs[Double]("min") == 10.0)
    val fields = graft.meta.Metadata.allFields(df)
    assert(fields.exists(f => f.path == "attrs.env" && f.fromMap))
  }

  test("keyValuesSketched matches exact keyValues when capacity covers " +
      "the domain, and bounds output when it doesn't") {
    import spark.implicits._
    val df = (Seq.fill(5)("x") ++ Seq.fill(3)("y") ++ Seq("z"))
      .map(v => (v, s"u_$v")).toDF("a", "b").repartition(4)
    val exact = graft.meta.Metadata.keyValues(df, Seq("a", "b"), 2)
      .as[(String, Seq[String])].collect().toSeq
    val sk = graft.meta.Metadata
      .keyValuesSketched(df, Seq("a", "b"), 2, sketchCapacity = 16)
      .as[(String, Seq[String])].collect().toSeq
    assert(sk == exact)
    // tiny capacity: heavy value still surfaces, list stays bounded
    val tight = graft.meta.Metadata
      .keyValuesSketched(df, Seq("a"), 2, sketchCapacity = 2)
      .as[(String, Seq[String])].collect().head._2
    assert(tight.contains("x") && tight.length <= 2)
  }

  test("json keys over a JSON-string column; malformed rows ignored") {
    import spark.implicits._
    val df = Seq(
      """{"k":1,"env":"prod"}""",
      """{"k":2}""",
      "not json").toDF("props")
    val keys = graft.meta.Metadata.jsonKeys(df, "props")
      .as[(String, Long)].collect().toSeq
    assert(keys == Seq(("k", 2L), ("env", 1L)))
  }

  test("json keys walks nested objects as dotted paths") {
    import spark.implicits._
    val df = Seq(
      """{"a":{"b":1,"c":{"d":2}},"e":5}""",
      """{"a":{"b":9}}""").toDF("props")
    val keys = graft.meta.Metadata.jsonKeys(df, "props")
      .as[(String, Long)].collect().toMap
    assert(keys == Map("a" -> 2L, "a.b" -> 2L, "a.c" -> 1L,
      "a.c.d" -> 1L, "e" -> 1L))
    // depth cap: maxDepth=1 keeps only top-level keys
    val flat = graft.meta.Metadata.jsonKeys(df, "props", maxDepth = 1)
      .as[(String, Long)].collect().toMap
    assert(flat == Map("a" -> 2L, "e" -> 1L))
  }

  test("timeSeriesTags: selector narrows values, onlyLabel restricts, " +
      "ranking is frequency then lexical") {
    import spark.implicits._
    import java.sql.Timestamp
    val df = Seq(
      ("reqs", "api", Timestamp.valueOf("2024-01-01 00:00:00"), 1.0,
        Map("region" -> "eu", "az" -> "eu-1")),
      ("reqs", "api", Timestamp.valueOf("2024-01-01 00:01:00"), 2.0,
        Map("region" -> "eu", "az" -> "eu-2")),
      ("reqs", "web", Timestamp.valueOf("2024-01-01 00:02:00"), 3.0,
        Map("region" -> "us")),
      ("lat", "api", Timestamp.valueOf("2024-01-01 00:03:00"), 4.0,
        Map("region" -> "ap")))
      .toDF("MetricName", "ServiceName", "TimeUnix", "Value", "Attributes")
    // no selector: every label over every row
    val all = graft.meta.Metadata.timeSeriesTags(df)
      .as[(String, Seq[String])].collect().toMap
    assert(all("MetricName") == Seq("reqs", "lat"))   // freq desc
    assert(all("region") == Seq("eu", "ap", "us"))    // freq, then lexical
    assert(all("az") == Seq("eu-1", "eu-2"))
    // a selector narrows the row set before discovery — the reference's
    // timeSeriesTags(selector) autocomplete call
    val sel = graft.meta.Metadata.timeSeriesTags(df,
      selectors = Seq("""reqs{ServiceName="api"}"""))
      .as[(String, Seq[String])].collect().toMap
    assert(sel("ServiceName") == Seq("api"))
    assert(sel("region") == Seq("eu"))
    assert(!sel.contains("us"))
    // matcher on an ATTRIBUTES label resolves through the map like the
    // PromQL path does
    val m = graft.meta.Metadata.timeSeriesTags(df,
      selectors = Seq("""reqs{region=~"eu|us"}"""))
      .as[(String, Seq[String])].collect().toMap
    assert(m("region") == Seq("eu", "us"))
    // onlyLabel = the label-values dropdown; maxValues caps
    val one = graft.meta.Metadata.timeSeriesTags(df,
      onlyLabel = Some("ServiceName"), maxValuesPerLabel = 1)
      .as[(String, Seq[String])].collect().toMap
    assert(one == Map("ServiceName" -> Seq("api")))
  }

  test("discovery scans plan a per-partition LocalLimit, no global funnel") {
    import spark.implicits._
    val df = (1 to 100).map(i => (s"id$i", Map("k" -> s"v$i")))
      .toDF("id", "attrs")
    val plan = graft.meta.Metadata.mapKeys(df, "attrs", maxScanRows = 50)
      .queryExecution.optimizedPlan
    val hasGlobal = plan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit => g
    }.nonEmpty
    assert(!hasGlobal, "discovery scan must not plan a GlobalLimit")
  }
}
