package graft.metrics

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

import graft.SparkSpec

class PromQlSpec extends SparkSpec {
  import spark.implicits._

  private def t(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00")

  // gauge-shaped frame: two hosts
  private lazy val gauges: DataFrame = Seq(
    ("mem_usage", "api", t(0), 10.0, Map("host" -> "a"), 2, false),
    ("mem_usage", "api", t(1), 30.0, Map("host" -> "a"), 2, false),
    ("mem_usage", "api", t(1), 50.0, Map("host" -> "b"), 2, false),
    ("cpu_usage", "api", t(1), 99.0, Map("host" -> "a"), 2, false))
    .toDF("MetricName", "ServiceName", "TimeUnix", "Value", "Attributes",
      "AggregationTemporality", "IsMonotonic")

  // counter-shaped frame: cumulative with a reset
  private lazy val counters: DataFrame = Seq(
    ("requests_total", "api", t(0), 100.0, Map("host" -> "a"), 2, true),
    ("requests_total", "api", t(1), 160.0, Map("host" -> "a"), 2, true),
    ("requests_total", "api", t(2), 20.0, Map("host" -> "a"), 2, true))
    .toDF("MetricName", "ServiceName", "TimeUnix", "Value", "Attributes",
      "AggregationTemporality", "IsMonotonic")

  test("parser: selectors, matchers, functions, aggregations") {
    import PromQl._
    assert(parse("up") == Selector("up", Nil))
    assert(parse("""mem{host="a", env!="dev"}""") ==
      Selector("mem", Seq(("host", "=", "a"), ("env", "!=", "dev"))))
    assert(parse("rate(requests_total[5m])") ==
      Rate(Selector("requests_total", Nil), 300, increase = false))
    assert(parse("""sum by (host) (rate(m{x=~"a.*"}[1h]))""") ==
      Aggr("sum", Seq("host"),
        Rate(Selector("m", Seq(("x", "=~", "a.*"))), 3600,
          increase = false)))
    intercept[PromQl.PromQlParseException](parse("sum(up"))
    intercept[PromQl.PromQlParseException](parse("rate(m[5x])"))
  }

  test("selector evaluates as last-value instant vector per step") {
    val out = PromQl.eval(gauges, "mem_usage", 3600).collect()
    // one bucket, two series (hosts a,b): last values 30 and 50 →
    // gauge 'last_value' across series keeps max_by bucket... single agg
    // across series: last_value per series then last_value across — here
    // both in same bucket: value is one of the series' last; use sum agg
    // via the aggregation form below for deterministic checks
    assert(out.length == 1)
  }

  test("sum by (label in attributes) over a gauge") {
    val withHost = PromQl.withLabels(gauges, Seq("host"))
    val out = PromQl.eval(withHost, "sum by (host) (mem_usage)", 3600)
      .orderBy("host").as[(Timestamp, String, Double)].collect().toSeq
    assert(out.map(r => (r._2, r._3)) == Seq(("a", 30.0), ("b", 50.0)))
  }

  test("metric-name and matcher filtering") {
    val withHost = PromQl.withLabels(gauges, Seq("host"))
    val only_a = PromQl.eval(withHost,
      """sum by (host) (mem_usage{host="a"})""", 3600)
      .as[(Timestamp, String, Double)].collect().toSeq
    assert(only_a.map(r => (r._2, r._3)) == Seq(("a", 30.0)))
    val regex = PromQl.eval(withHost,
      """sum by (host) (mem_usage{host=~"[ab]"})""", 3600)
      .collect()
    assert(regex.length == 2)
  }

  // two counter series one minute apart: host a 100 → 130, host b
  // 50 → 56. At step 1m a [2m] window holds both samples exactly once,
  // at eval t = 00:01 (window (−1m, 1m], emitted at label 00:00):
  // n=2, tf=0, tl=60 → sampled=60, avgInterval=60, threshold=66;
  // startGap=60 (the zero-crossing durations 60·100/30=200 and
  // 60·50/6=500 cap nothing) < 66 → extrapolates fully; endGap=0.
  //   a: increase = 30·(60+60+0)/60 = 60, rate = 60/120 = 0.5
  //   b: increase =  6·(60+60+0)/60 = 12, rate = 12/120 = 0.1
  // Every other eval time holds one sample → no point.
  private lazy val twoHosts: DataFrame = Seq(
    ("req", "api", t(0), 100.0, Map("host" -> "a"), 2, true),
    ("req", "api", t(1), 130.0, Map("host" -> "a"), 2, true),
    ("req", "api", t(0), 50.0, Map("host" -> "b"), 2, true),
    ("req", "api", t(1), 56.0, Map("host" -> "b"), 2, true))
    .toDF("MetricName", "ServiceName", "TimeUnix", "Value", "Attributes",
      "AggregationTemporality", "IsMonotonic")

  test("sum by (label) over rate: per-label counter rates") {
    val out = PromQl.eval(PromQl.withLabels(twoHosts, Seq("host")),
      "sum by (host) (increase(req[2m]))", 60)
      .orderBy("__time_bucket", "host")
      .select("__time_bucket", "host", "value")
      .as[(Timestamp, String, Double)].collect().toSeq
    assert(out == Seq((t(0), "a", 60.0), (t(0), "b", 12.0)))
  }

  test("avg/max/count over rate aggregate across per-series rates") {
    def run(q: String): Seq[Double] =
      PromQl.eval(twoHosts, q, 60)
        .orderBy("__time_bucket")
        .select("value").as[Double].collect().toSeq
    // per-series rates: a 0.5, b 0.1
    assert(run("avg(rate(req[2m]))") == Seq(0.3))
    assert(run("max(rate(req[2m]))") == Seq(0.5))
    assert(run("min(rate(req[2m]))") == Seq(0.1))
    assert(run("count(rate(req[2m]))") == Seq(2.0))
    assert(run("sum(increase(req[2m]))") == Seq(72.0))
  }

  test("avg over a gauge averages per-series last values") {
    // bucket 0: host a last=30, host b last=50 → avg 40, max 50
    val avgOut = PromQl.eval(gauges, "avg(mem_usage)", 3600)
      .select("value").as[Double].collect().toSeq
    assert(avgOut == Seq(40.0))
    val maxOut = PromQl.eval(gauges, "max(mem_usage)", 3600)
      .select("value").as[Double].collect().toSeq
    assert(maxOut == Seq(50.0))
  }

  test("attributesHash is stable under map entry order") {
    val f1 = Seq(("m", "s", t(0), 1.0, Map("a" -> "1", "b" -> "2"), 2, false))
      .toDF("MetricName", "ServiceName", "TimeUnix", "Value", "Attributes",
        "AggregationTemporality", "IsMonotonic")
    val f2 = Seq(("m", "s", t(0), 1.0, Map("b" -> "2", "a" -> "1"), 2, false))
      .toDF("MetricName", "ServiceName", "TimeUnix", "Value", "Attributes",
        "AggregationTemporality", "IsMonotonic")
    val h1 = f1.select(MetricCompiler.attributesHash(f1)).head.getLong(0)
    val h2 = f2.select(MetricCompiler.attributesHash(f2)).head.getLong(0)
    assert(h1 == h2)
  }

  test("binary ops parse with precedence and scalar literals") {
    import PromQl._
    assert(parse("a / b") ==
      BinOp("/", Selector("a", Nil), Selector("b", Nil)))
    assert(parse("a + b * 2") == BinOp("+", Selector("a", Nil),
      BinOp("*", Selector("b", Nil), ScalarLit(2.0))))
    assert(parse("(a + b) * 2") == BinOp("*",
      BinOp("+", Selector("a", Nil), Selector("b", Nil)), ScalarLit(2.0)))
    // % and atan2 share * /'s tier; ^ binds tighter and is RIGHT-assoc
    assert(parse("a + b % 2") == BinOp("+", Selector("a", Nil),
      BinOp("%", Selector("b", Nil), ScalarLit(2.0))))
    assert(parse("a atan2 b") ==
      BinOp("atan2", Selector("a", Nil), Selector("b", Nil)))
    assert(parse("a * b ^ 2") == BinOp("*", Selector("a", Nil),
      BinOp("^", Selector("b", Nil), ScalarLit(2.0))))
    assert(parse("a ^ b ^ 2") == BinOp("^", Selector("a", Nil),
      BinOp("^", Selector("b", Nil), ScalarLit(2.0))))
    // scalar-only expressions are rejected at compile time
    intercept[PromQl.PromQlParseException](
      PromQl.eval(gauges, "1 + 2", 3600))
  }

  test("atan2 / % / ^ evaluate: vector-scalar both orders and " +
      "vector-vector with on()") {
    val frame = Seq(
      ("y_val", "api", t(0), 3.0, Map.empty[String, String], 2, false),
      ("x_val", "api", t(0), 4.0, Map.empty[String, String], 2, false))
      .toDF("MetricName", "ServiceName", "TimeUnix", "Value",
        "Attributes", "AggregationTemporality", "IsMonotonic")
    def one(q: String): Double =
      PromQl.eval(frame, q, 3600).select("value").as[Double]
        .collect().head
    // vector atan2 scalar, both orders
    assert(one("sum(y_val) atan2 1") == math.atan2(3.0, 1.0))
    assert(one("1 atan2 sum(y_val)") == math.atan2(1.0, 3.0))
    // vector-vector with explicit on (bucket-only join)
    assert(one("sum(y_val) atan2 on () group_left sum(x_val)") ==
      math.atan2(3.0, 4.0))
    assert(one("sum(y_val) atan2 sum(x_val)") == math.atan2(3.0, 4.0))
    // % follows Go math.Mod (sign of the dividend; NaN on 0)
    assert(one("sum(y_val) % 2") == 1.0)
    assert(one("(0 - sum(y_val)) % 2") == -1.0)
    assert(one("sum(y_val) % 0").isNaN)
    // ^ is math.Pow
    assert(one("sum(x_val) ^ 2") == 16.0)
    assert(one("2 ^ sum(y_val)") == 8.0)
    // constScalar folds the new ops too
    assert(PromQl.constScalar("3 atan2 4", 0).contains(
      math.atan2(3.0, 4.0)))
    assert(PromQl.constScalar("2 ^ 3 ^ 2", 0).contains(512.0))
    assert(PromQl.constScalar("7 % 3", 0).contains(1.0))
  }

  test("vector/vector ratio joins on bucket; scalar broadcasts") {
    val frame = Seq(
      ("err", "api", t(0), 10.0, Map.empty[String, String], 2, false),
      ("all", "api", t(0), 40.0, Map.empty[String, String], 2, false))
      .toDF("MetricName", "ServiceName", "TimeUnix", "Value", "Attributes",
        "AggregationTemporality", "IsMonotonic")
    val ratio = PromQl.eval(frame, "sum(err) / sum(all)", 3600)
      .select("value").as[Double].collect().toSeq
    assert(ratio == Seq(0.25))
    val scaled = PromQl.eval(frame, "sum(err) * 2 + 5", 3600)
      .select("value").as[Double].collect().toSeq
    assert(scaled == Seq(25.0))
    // rate × step == increase when the range is one step. At step 2m
    // the only window holding two samples is eval t = 00:02 (window
    // (0, 2m], label 00:00), and it spans the counter reset:
    // 160 @00:01, 20 @00:02 → monotonicized 160, 180 (delta=20);
    // n=2, sampled=60, avgInterval=60, threshold=66; startGap=60
    // (zero-crossing 60·160/20=480 caps nothing) → full; endGap=0 →
    // increase = 20·(60+60)/60 = 40, rate = 40/120
    val inc = PromQl.eval(counters, "increase(requests_total[2m])", 120)
      .select("value").as[Double].collect().toSeq
    assert(inc == Seq(40.0))
    val scaledRate = PromQl.eval(counters,
      "rate(requests_total[2m]) * 120", 120)
      .select("value").as[Double].collect().toSeq
    assert(scaledRate == Seq(40.0))
  }

  test("parser: topk, offset, histogram_quantile, *_over_time") {
    import PromQl._
    assert(parse("topk(3, sum by (svc) (up))") ==
      TopK(3, Aggr("sum", Seq("svc"), Selector("up", Nil)),
        bottom = false))
    assert(parse("bottomk(2, up)") ==
      TopK(2, Selector("up", Nil), bottom = true))
    assert(parse("up offset 5m") == Selector("up", Nil, 300))
    assert(parse("rate(m[5m] offset 1h)") ==
      Rate(Selector("m", Nil, 3600), 300, increase = false))
    assert(parse("histogram_quantile(0.9, latency)") ==
      HistQuantile(0.9, Selector("latency", Nil), Nil))
    assert(parse("histogram_quantile(0.5, sum by (svc) (latency))") ==
      HistQuantile(0.5, Selector("latency", Nil), Seq("svc")))
    assert(parse("avg_over_time(mem[1h])") ==
      OverTime("avg", Selector("mem", Nil), 3600))
    assert(parse("max_over_time(mem[30m] offset 1h)") ==
      OverTime("max", Selector("mem", Nil, 3600), 1800))
    // a metric whose name merely ends in _over_time is still a selector
    assert(parse("custom_over_time") ==
      Selector("custom_over_time", Nil))
  }

  test("topk keeps k series per bucket; offset shifts evaluation") {
    val out = PromQl.eval(gauges,
      "topk(1, max by (host) (mem_usage))", 3600)
      .select("host").as[String].collect().toSeq
    assert(out.length == 1) // one bucket, top-1 of the two hosts
    // offset 1h: data lands one bucket later
    val base = PromQl.eval(gauges, "max(mem_usage)", 3600)
      .select("__time_bucket").as[java.sql.Timestamp].collect().head
    val shifted = PromQl.eval(gauges, "max(mem_usage offset 1h)", 3600)
      .select("__time_bucket").as[java.sql.Timestamp].collect().head
    assert(shifted.getTime - base.getTime == 3600 * 1000L)
  }

  test("sum_over_time slides per step: (t - range, t] per eval time") {
    // points at 00:00, 00:01, 00:02; range 1h, step 1h → the point exactly
    // ON the 00:00 boundary belongs to eval time 00:00 ((−1h, 00:00]); the
    // later two land at eval time 01:00
    val out = PromQl.eval(counters,
      "sum by (ServiceName) (sum_over_time(requests_total[1h]))", 3600)
      .orderBy("__time_bucket")
      .select("value").as[Double].collect().toSeq
    assert(out == Seq(100.0, 180.0))
  }

  test("*_over_time with range > step: each sample feeds several steps") {
    // range 2h, step 1h: the 00:00 sample covers eval times 00:00 and
    // 01:00; the 00:01/00:02 samples cover 01:00 and 02:00
    val out = PromQl.eval(counters,
      "sum by (ServiceName) (max_over_time(requests_total[2h]))", 3600)
      .orderBy("__time_bucket")
      .select("value").as[Double].collect().toSeq
    assert(out == Seq(100.0, 160.0, 160.0))
  }

  test("*_over_time with range < step: samples between steps drop out") {
    // range 1m, step 1h: only the sample exactly on an eval boundary
    // (00:00) is inside any (t − 1m, t] window
    val out = PromQl.eval(counters,
      "sum by (ServiceName) (count_over_time(requests_total[1m]))", 3600)
      .select("value").as[Double].collect().toSeq
    assert(out == Seq(1.0))
  }

  test("parser: without, on/ignoring, group_left, label_replace") {
    import PromQl._
    assert(parse("sum without (host) (mem)") ==
      Aggr("sum", Seq("host"), Selector("mem", Nil), without = true))
    assert(parse("a / on (host) b") ==
      BinOp("/", Selector("a", Nil), Selector("b", Nil),
        VectorMatch(on = Some(Seq("host")))))
    assert(parse("a / ignoring (env) b") ==
      BinOp("/", Selector("a", Nil), Selector("b", Nil),
        VectorMatch(ignoring = Seq("env"))))
    assert(parse("a * on (host) group_left (role) b") ==
      BinOp("*", Selector("a", Nil), Selector("b", Nil),
        VectorMatch(on = Some(Seq("host")), groupLeft = true,
          extra = Seq("role"))))
    assert(parse("""label_replace(m, "dst", "$1", "src", "(.*)")""") ==
      LabelReplace(Selector("m", Nil), "dst", "$1", "src", "(.*)"))
    // metric names starting with on/ignoring prefixes stay selectors
    assert(parse("a + online") ==
      BinOp("+", Selector("a", Nil), Selector("online", Nil)))
    // group_right parses in source order with flipped=true; compile
    // mirrors the frames (right = many side) and flips the op's args
    assert(parse("a / on (host) group_right b") ==
      BinOp("/", Selector("a", Nil), Selector("b", Nil),
        VectorMatch(on = Some(Seq("host")), groupLeft = true,
          flipped = true)))
  }

  test("sum without (label) groups by the surviving label set") {
    val out = PromQl.eval(gauges, "sum without (host) (mem_usage)", 3600)
      .select("labels", "value").as[(String, Double)].collect().toSeq
    // hosts a,b collapse; ServiceName survives into the canonical JSON
    assert(out == Seq(
      ("""[{"key":"ServiceName","value":"api"}]""", 80.0)))
  }

  test("label_replace rewrites the label and re-keys series") {
    val out = PromQl.eval(gauges,
      """sum by (env) (label_replace(mem_usage, "env", "prod-$1", "host", "(a)"))""",
      3600)
      .orderBy("env")
      .select("env", "value").as[(String, Double)].collect().toSeq
    // host=a matched → env=prod-a (last value 30); host=b unmatched →
    // env stays unset (null group, value 50)
    assert(out == Seq((null, 50.0), ("prod-a", 30.0)))
  }

  test("vector matching: on(), ignoring(), group_left") {
    val withHost = PromQl.withLabels(gauges, Seq("host"))
    val on = PromQl.eval(withHost,
      "sum by (host) (mem_usage) / on (host) sum by (host) (cpu_usage)",
      3600)
      .select("host", "value").as[(String, Double)].collect().toSeq
    assert(on == Seq(("a", 30.0 / 99.0)))

    val ign = PromQl.eval(withHost,
      "sum by (host) (mem_usage) / ignoring (host) sum (cpu_usage)", 3600)
      .orderBy("host")
      .select("host", "value").as[(String, Double)].collect().toSeq
    assert(ign == Seq(("a", 30.0 / 99.0), ("b", 50.0 / 99.0)))

    val gl = PromQl.eval(withHost,
      "sum by (host) (mem_usage) / on () group_left sum (cpu_usage)", 3600)
      .orderBy("host")
      .select("host", "value").as[(String, Double)].collect().toSeq
    assert(gl == Seq(("a", 30.0 / 99.0), ("b", 50.0 / 99.0)))

    // group_right: the mirror — the RIGHT side is the many side and
    // keeps its labels; the VALUE is still left-op-right (division is
    // non-commutative, so a naive swap would invert every ratio)
    val gr = PromQl.eval(withHost,
      "sum (cpu_usage) / on () group_right sum by (host) (mem_usage)",
      3600)
      .orderBy("host")
      .select("host", "value").as[(String, Double)].collect().toSeq
    assert(gr == Seq(("a", 99.0 / 30.0), ("b", 99.0 / 50.0)))
    // comparisons reject group_right loudly
    intercept[PromQl.PromQlParseException](PromQl.eval(withHost,
      "sum (cpu_usage) > on () group_right sum by (host) (mem_usage)",
      3600).collect())
  }

  test("quantile_over_time interpolates within the sliding window") {
    // eval time 01:00, range 2h captures 100, 160, 20 → median 100
    val out = PromQl.eval(counters,
      "sum by (ServiceName) (quantile_over_time(0.5, requests_total[2h]))",
      3600)
      .orderBy("__time_bucket")
      .select("value").as[Double].collect().toSeq
    // 00:00 → [100]; 01:00 → [100,160,20] median 100; 02:00 → [160,20]
    assert(out == Seq(100.0, 100.0, 90.0))
  }

  test("parser: subquery, clamp, absent, label_join, quantile aggr") {
    import PromQl._
    assert(parse("max_over_time(rate(m[5m])[1h:5m])") ==
      OverTimeSub("max", Rate(Selector("m", Nil), 300, increase = false),
        3600, 300))
    assert(parse("avg_over_time(sum(m)[1h:])") ==
      OverTimeSub("avg", Aggr("sum", Nil, Selector("m", Nil)), 3600, 0))
    assert(parse("quantile_over_time(0.9, sum(m)[1h:10m])") ==
      OverTimeSub("quantile", Aggr("sum", Nil, Selector("m", Nil)),
        3600, 600, Some(0.9)))
    assert(parse("clamp_min(m, 5)") ==
      Clamp(Selector("m", Nil), Some(5.0), None))
    assert(parse("clamp(m, 0, 1)") ==
      Clamp(Selector("m", Nil), Some(0.0), Some(1.0)))
    assert(parse("""absent(m{job="x"})""") ==
      Absent(Selector("m", Seq(("job", "=", "x")))))
    assert(parse("""label_join(m, "dst", "-", "a", "b")""") ==
      LabelJoin(Selector("m", Nil), "dst", "-", Seq("a", "b")))
    assert(parse("quantile by (host) (0.9, m)") ==
      Aggr("quantile:0.9", Seq("host"), Selector("m", Nil)))
    // plain range on a non-selector must point at the subquery form
    intercept[PromQlParseException](parse("max_over_time(sum(m)[1h])"))
  }

  test("subquery: outer window aggregates inner evaluations") {
    // inner: sum(requests_total) at 1m steps → labels 00:00/00:01/00:02
    // = 100/160/20, i.e. inner evaluation INSTANTS 00:01/00:02/00:03.
    // outer max_over_time[2h:1m] at 1h steps: the eval at 01:00 (label
    // 00:00) covers instants (−59:00, 01:00] → all three → 160; the
    // eval at 02:00 (label 01:00) covers (00:00, 02:00] → all three →
    // 160; the eval at 03:00 would cover (01:00, 03:00] → none → no row
    val out = PromQl.eval(counters,
      "max_over_time(sum(requests_total)[2h:1m])", 3600)
      .orderBy("__time_bucket")
      .select("value").as[Double].collect().toSeq
    assert(out == Seq(160.0, 160.0))
  }

  test("subquery with empty substep inherits the outer step") {
    val a = PromQl.eval(counters,
      "max_over_time(sum(requests_total)[2h:])", 3600)
      .orderBy("__time_bucket").select("value").as[Double].collect().toSeq
    val b = PromQl.eval(counters,
      "max_over_time(sum(requests_total)[2h:1h])", 3600)
      .orderBy("__time_bucket").select("value").as[Double].collect().toSeq
    assert(a == b)
  }

  test("subquery keeps the inner expression's labels") {
    val out = PromQl.eval(gauges,
      "max_over_time(sum by (ServiceName) (mem_usage)[1h:1h])", 3600)
      .select("ServiceName", "value").as[(String, Double)].collect().toSeq
    assert(out == Seq(("api", 80.0)))
  }

  test("clamp_min / clamp_max bound the vector") {
    val lo = PromQl.eval(gauges,
      "clamp_min(sum by (ServiceName) (mem_usage), 100)", 3600)
      .select("value").as[Double].collect().toSeq
    assert(lo == Seq(100.0))
    val hi = PromQl.eval(gauges,
      "clamp_max(sum by (ServiceName) (mem_usage), 42)", 3600)
      .select("value").as[Double].collect().toSeq
    assert(hi == Seq(42.0))
  }

  test("absent: 1 on spine buckets without selector samples") {
    // cpu_usage only has samples at minute 1 (bucket 00:00) — same bucket
    // as the whole frame's spine → absent() is empty
    assert(PromQl.eval(gauges, "absent(cpu_usage)", 3600).count() == 0)
    // a metric that never occurs → 1 on the one spine bucket, with the
    // equality matcher echoed as a label
    val out = PromQl.eval(gauges, """absent(nope{job="x"})""", 3600)
      .select("value", "job").as[(Double, String)].collect().toSeq
    assert(out == Seq((1.0, "x")))
  }

  test("absent_over_time: 1 where the sliding window has no samples") {
    // cpu samples only at minute 1 → cover eval steps 01:00 and 02:00
    // with range 2h; the frame's spine (mem at minutes 0-1) covers eval
    // steps 00:00 (from u=0), 01:00, 02:00 — absent only at eval 00:00,
    // emitted at the window-start label 23:00 the previous day
    val out = PromQl.eval(gauges, "absent_over_time(cpu_usage[2h])", 3600)
      .select("__time_bucket").as[Timestamp].collect().toSeq
    assert(out == Seq(Timestamp.valueOf("2023-12-31 23:00:00")))
    // a metric with no samples at all → 1 on every spine step
    assert(PromQl.eval(gauges, "absent_over_time(nope[2h])", 3600)
      .count() == 3)
  }

  test("label_join concatenates source labels into dst") {
    val out = PromQl.eval(gauges,
      """sum by (k) (label_join(mem_usage, "k", "-", "ServiceName", "host"))""",
      3600)
      .orderBy("k")
      .select("k", "value").as[(String, Double)].collect().toSeq
    assert(out == Seq(("api-a", 30.0), ("api-b", 50.0)))
  }

  test("default rate/increase: sliding extrapolated, reset-compensated") {
    // cumulative series 100 @00:00, 160 @00:01, 20 @00:02 (reset) →
    // monotonicized 100, 160, 180.
    // eval t=00:00: 1 sample → no point.
    // eval t=01:00 (window (−1h,1h]): n=3, tf=0 tl=120, delta=80, avg=60,
    //   startGap=3600→30, zeroCap 120·(100/80)=150 (no), endGap=3480→30,
    //   factor=(120+60)/120=1.5 → 120, emitted at label 00:00
    // eval t=02:00 (window (0,2h] excludes u=0): n=2, tf=60 tl=120,
    //   delta=20, avg=60, startGap=60<66→60, zeroCap 60·(160/20)=480 (no),
    //   endGap=7080→30, factor=(60+90)/60=2.5 → 50, at label 01:00
    val out = PromQl.eval(counters,
      "sum by (ServiceName) (increase(requests_total[2h]))", 3600)
      .orderBy("__time_bucket")
      .select("__time_bucket", "value").as[(Timestamp, Double)]
      .collect().toSeq
    assert(out == Seq(
      (Timestamp.valueOf("2024-01-01 00:00:00"), 120.0),
      (Timestamp.valueOf("2024-01-01 01:00:00"), 50.0)))
    // rate = increase / range
    val r = PromQl.eval(counters,
      "sum by (ServiceName) (rate(requests_total[2h]))", 3600)
      .orderBy("__time_bucket")
      .select("value").as[Double].collect().toSeq
    assert(r == Seq(120.0 / 7200, 50.0 / 7200))
  }

  test("sliding and instant families join at the same eval instant") {
    // the evaluation at t=01:00 on both sides of the binop:
    // sum_over_time[1h] over (00:00,01:00] = 160+20 = 180, and the
    // instant vector's last-value in [00:00,01:00) = 20 — both emitted at
    // the window-start label 00:00, so the join compares one instant,
    // like Prometheus (no one-step misalignment between families)
    val out = PromQl.eval(counters,
      "sum by (ServiceName) (sum_over_time(requests_total[1h])) " +
        "- sum by (ServiceName) (requests_total)", 3600)
      .select("__time_bucket", "value").as[(Timestamp, Double)]
      .collect().toSeq
    assert(out == Seq((Timestamp.valueOf("2024-01-01 00:00:00"), 160.0)))
  }

  test("maxLookback derives the scan padding from the expression") {
    assert(PromQl.maxLookback("sum by (h) (mem)") == 0L)
    assert(PromQl.maxLookback("max_over_time(mem[10m])") == 600L)
    assert(PromQl.maxLookback("rate(m[5m] offset 1h)") == 3900L)
    assert(PromQl.maxLookback(
      "rate(m[5m]) / max_over_time(sum(m)[1h:10m])") == 3600L)
    assert(PromQl.maxLookback(
      "max_over_time(rate(m[30m])[1h:5m])") == 5400L)
  }

  test("irate/idelta use the window's last sample pair") {
    // pairs: (100@0 → 160@60), (160@60 → 20@120 reset).
    // eval 01:00 (window (-1h,1h]): last pair (160,20@120): reset → d=20,
    //   gap 60 → irate 1/3
    // eval 02:00 (window (0,2h]): pair (160@60, 20@120) both in window →
    //   same; the (100@0,160@60) pair has pu=0 outside (0,7200]... pu must
    //   be > 0, so only the latest pair qualifies anyway
    val out = PromQl.eval(counters,
      "sum by (ServiceName) (irate(requests_total[2h]))", 3600)
      .orderBy("__time_bucket")
      .select("value").as[Double].collect().toSeq
    assert(out == Seq(20.0 / 60, 20.0 / 60))
    val id = PromQl.eval(counters,
      "sum by (ServiceName) (idelta(requests_total[2h]))", 3600)
      .orderBy("__time_bucket")
      .select("value").as[Double].collect().toSeq
    assert(id == Seq(-140.0, -140.0))
  }

  test("delta uses capped boundary extrapolation (non-counter)") {
    // promql extrapolatedRate with isCounter=false (functions.go): no
    // monotonicization, no zero-crossing cap; each boundary gap
    // extrapolates fully below 1.1·avgInterval, else by avgInterval/2.
    // One series; points 100 @00:00, 160 @00:01, 20 @00:02, range 2h:
    // eval 00:00: single point → no point (needs ≥ 2 samples)
    // eval 01:00: n=3 tf=0 tl=120 vf=100 vl=20 → sampled=120 avgIv=60
    //   thresh=66; startGap=3600→30, endGap=3480→30 →
    //   −80·(120+30+30)/120 = −120
    // eval 02:00 (window (0,2h] excludes u=0): n=2 tf=60 tl=120 vf=160
    //   vl=20 → sampled=60 avgIv=60 thresh=66; startGap=60<66→60,
    //   endGap=7080→30 → −140·(60+60+30)/60 = −350
    val out = PromQl.eval(counters,
      "sum by (ServiceName) (delta(requests_total[2h]))", 3600)
      .orderBy("__time_bucket")
      .select("value").as[Double].collect().toSeq
    assert(out == Seq(-120.0, -350.0))
  }

  test("extrapolatedRate fixtures: zero-cap, dense full extrapolation") {
    // hand-computed against promql functions.go extrapolatedRate
    // (zero-crossing cap applied BEFORE the 1.1·avgInterval threshold).
    def ctr(pts: (Int, Double)*): DataFrame = pts
      .map { case (sec, v) =>
        ("c", "svc", new Timestamp(
          Timestamp.valueOf("2024-01-01 00:00:00").getTime + sec * 1000L),
          v, Map.empty[String, String], 2, true) }
      .toDF("MetricName", "ServiceName", "TimeUnix", "Value", "Attributes",
        "AggregationTemporality", "IsMonotonic")
    // zero-crossing cap active: samples (3000,10),(3200,30),(3500,60),
    // eval t=3600 window (0,3600]: n=3 tf=3000 tl=3500 → sampled=500,
    // avgIv=250, thresh=275; delta=50, vf=10; startGap=3000,
    // zeroDur=500·(10/50)=100 < 3000 → capped 100 < 275 → sdur=100
    // (NOT avgIv/2=125 — the cap fires first); endGap=100<275→100 →
    // increase = 50·(500+100+100)/500 = 70
    val zc = PromQl.eval(
      ctr((3000, 10.0), (3200, 30.0), (3500, 60.0)),
      "sum by (ServiceName) (increase(c[1h]))", 3600)
      .select("value").as[Double].collect().toSeq
    assert(zc == Seq(70.0))
    // dense samples every 300s from 300..3600 (values 3..36): gaps are
    // below thresh=330 so both boundaries extrapolate fully — increase
    // over (0,3600] recovers the exact linear growth 36, rate 0.01/s
    val dense = ctr((1 to 12).map(i => (i * 300, i * 3.0)): _*)
    val full = PromQl.eval(dense,
      "sum by (ServiceName) (increase(c[1h]))", 3600)
      .select("value").as[Double].collect().toSeq
    assert(full == Seq(36.0))
    val rate = PromQl.eval(dense,
      "sum by (ServiceName) (rate(c[1h]))", 3600)
      .select("value").as[Double].collect().toSeq
    assert(rate == Seq(0.01))
  }

  test("division by zero: ±Inf by numerator sign, 0/0 is NaN") {
    // PromQL follows IEEE float division (promql engine binop) where
    // Spark SQL yields NULL — the compiler rewrites the zero-divisor case
    val inf = PromQl.eval(gauges,
      "sum by (host) (mem_usage) / 0", 3600)
      .select("value").as[Double].collect().toSeq
    assert(inf == Seq(Double.PositiveInfinity, Double.PositiveInfinity))
    val ninf = PromQl.eval(gauges,
      "(0 - sum by (host) (mem_usage)) / 0", 3600)
      .select("value").as[Double].collect().toSeq
    assert(ninf == Seq(Double.NegativeInfinity, Double.NegativeInfinity))
    val nan = PromQl.eval(gauges,
      "(sum(mem_usage) - sum(mem_usage)) / 0", 3600)
      .select("value").as[Double].collect().toSeq
    assert(nan.length == 1 && nan.head.isNaN)
    // vector/vector: a bool comparison manufactures a zero denominator
    val vv = PromQl.eval(gauges,
      "sum by (host) (mem_usage) / (sum by (host) (mem_usage) > bool 1000)",
      3600)
      .select("value").as[Double].collect().toSeq
    assert(vv == Seq(Double.PositiveInfinity, Double.PositiveInfinity))
  }

  test("absent fills frame gaps on the contiguous step spine") {
    // mem samples at 00:xx and 03:xx; cpu only at 00:xx — the spine is
    // the contiguous hours 00..03, so cpu is absent at 01, 02, 03 even
    // though the frame has no samples at all in hours 01-02
    val sparse = Seq(
      ("mem", "api", t(0), 1.0, Map.empty[String, String]),
      ("mem", "api", Timestamp.valueOf("2024-01-01 03:05:00"), 2.0,
        Map.empty[String, String]),
      ("cpu", "api", t(1), 3.0, Map.empty[String, String]))
      .toDF("MetricName", "ServiceName", "TimeUnix", "Value", "Attributes")
    val out = PromQl.eval(sparse, "absent(cpu)", 3600)
      .orderBy("__time_bucket")
      .select("__time_bucket").as[Timestamp].collect().toSeq
    assert(out == Seq(
      Timestamp.valueOf("2024-01-01 01:00:00"),
      Timestamp.valueOf("2024-01-01 02:00:00"),
      Timestamp.valueOf("2024-01-01 03:00:00")))
  }

  test("classic histogram_quantile applies ensureMonotonic smoothing") {
    // cumulative counts with a float-wobble dip: le .1→10, .5→8, 1→15,
    // +Inf→15; ensureMonotonic lifts .5 to 10 (running max), so rank
    // 12 (φ=0.8) interpolates from (.5, 10): 0.5 + 0.5·(12−10)/(15−10)
    // = 0.7 — without smoothing prev would be the dipped (.5, 8)
    // yielding 0.5 + 0.5·4/7 ≈ 0.786
    val frame = Seq(
      ("b", "api", t(1), 10.0, Map("le" -> "0.1")),
      ("b", "api", t(1), 8.0, Map("le" -> "0.5")),
      ("b", "api", t(1), 15.0, Map("le" -> "1")),
      ("b", "api", t(1), 15.0, Map("le" -> "+Inf")))
      .toDF("MetricName", "ServiceName", "TimeUnix", "Value", "Attributes")
    val out = PromQl.eval(frame,
      "histogram_quantile(0.8, sum by (ServiceName, le) (b))", 3600)
      .select("value").as[Double].collect().toSeq
    assert(out.length == 1 && math.abs(out.head - 0.7) < 1e-12)
  }

  test("group_left on a comparison copies the extra label") {
    val withBoth = PromQl.withLabels(gauges, Seq("host"))
      .withColumn("hostgroup", lit("hg1"))
    val out = PromQl.eval(withBoth,
      "sum by (host) (mem_usage) < on (host) group_left (hostgroup) " +
        "sum by (host, hostgroup) (cpu_usage)", 3600)
      .select("host", "hostgroup", "value")
      .as[(String, String, Double)].collect().toSeq
    // host a: mem 30 < cpu 99 → kept with the right side's hostgroup
    assert(out == Seq(("a", "hg1", 30.0)))
  }

  test("deriv and predict_linear fit least squares per sliding window") {
    import PromQl._
    assert(parse("deriv(m[5m])") ==
      OverTime("deriv", Selector("m", Nil), 300))
    assert(parse("predict_linear(m[1h], 600)") ==
      OverTime("predict_linear", Selector("m", Nil), 3600, Some(600.0)))
    // window (−1h,1h] points (0,100),(60,160),(120,20): mean_u=60 (rel),
    // mean_v=280/3, cov=−1600, var=2400 → slope −2/3;
    // window (0,2h] points (60,160),(120,20): slope −140/60 = −7/3
    val out = PromQl.eval(counters,
      "sum by (ServiceName) (deriv(requests_total[2h]))", 3600)
      .orderBy("__time_bucket").select("value").as[Double].collect().toSeq
    assert(out.length == 2)
    assert(math.abs(out(0) - (-2.0 / 3)) < 1e-9)
    assert(math.abs(out(1) - (-7.0 / 3)) < 1e-9)
    // predict at eval T + 300: mean_v + slope·(T − mean_u + 300) with
    // T − mean_u = 3540 in the first window → 280/3 − (2/3)·3840
    val pl = PromQl.eval(counters,
      "sum by (ServiceName) (predict_linear(requests_total[2h], 300))",
      3600)
      .orderBy("__time_bucket").select("value").as[Double].collect().toSeq
    assert(math.abs(pl(0) - (280.0 / 3 - 2.0 / 3 * 3840)) < 1e-6)
  }

  test("holt_winters folds (s, b) state over the window's samples") {
    import PromQl._
    assert(parse("holt_winters(m[1h], 0.5, 0.5)") ==
      OverTime("holt", Selector("m", Nil), 3600, Some(0.5), Some(0.5)))
    intercept[PromQlParseException](parse("holt_winters(m[1h], 0, 0.5)"))
    // window (−1h,1h] samples [100,160,20], sf=tf=0.5 (hand-computed
    // against funcDoubleExponentialSmoothing):
    //   s₀=100 b=60; v=160 → s=0.5·160+0.5·160=160, b=0.5·60+0.5·60=60;
    //   v=20 → s=0.5·20+0.5·220=120 → 120
    // window (0,2h] samples [160,20]: s₀=160 b=−140 →
    //   s=0.5·20+0.5·20=20
    val out = PromQl.eval(counters,
      "sum by (ServiceName) (holt_winters(requests_total[2h], 0.5, 0.5))",
      3600)
      .orderBy("__time_bucket").select("value").as[Double].collect().toSeq
    assert(out == Seq(120.0, 20.0))
  }

  test("round: nearest with ties up; optional to_nearest multiple") {
    import PromQl._
    assert(parse("round(m, 5)") ==
      MathFn("round", Selector("m", Nil), Some(5.0)))
    // sum by host: a=30, b=50 → round(·, 7): 30/7=4.29→4·7=28; 49
    val out = PromQl.eval(gauges,
      "round(sum by (host) (mem_usage), 7)", 3600)
      .orderBy("host").select("value").as[Double].collect().toSeq
    assert(out == Seq(28.0, 49.0))
    // ties round UP (floor(v+½)), not away from zero: −2.5 → −2
    val neg = PromQl.eval(gauges,
      "round(0 - (sum by (host) (mem_usage) / 12))", 3600)
      .orderBy("host").select("value").as[Double].collect().toSeq
    // −30/12 = −2.5 → −2; −50/12 = −4.1667 → −4
    assert(neg == Seq(-2.0, -4.0))
  }

  test("scalar broadcasts per bucket; vector and time span the spine") {
    import PromQl._
    assert(parse("scalar(sum(m))") ==
      ScalarOf(Aggr("sum", Nil, Selector("m", Nil))))
    assert(parse("vector(0)") == VectorOf(0.0))
    assert(parse("time()") == TimeFn)
    val withHost = PromQl.withLabels(gauges, Seq("host"))
    // the scalar() frame is label-less → the binop joins on bucket alone,
    // broadcasting the total to every host series (share-of-total)
    val share = PromQl.eval(withHost,
      "sum by (host) (mem_usage) / scalar(sum(mem_usage))", 3600)
      .orderBy("host").select("host", "value")
      .as[(String, Double)].collect().toSeq
    assert(share == Seq(("a", 30.0 / 80.0), ("b", 50.0 / 80.0)))
    // >1 series → NaN, like Prometheus
    val nan = PromQl.eval(withHost,
      "scalar(sum by (host) (mem_usage))", 3600)
      .select("value").as[Double].collect().toSeq
    assert(nan.length == 1 && nan.head.isNaN)
    // the `x or vector(0)` fallback fills series-less buckets
    val filled = PromQl.eval(gauges, "sum(nope) or vector(0)", 3600)
      .select("value").as[Double].collect().toSeq
    assert(filled == Seq(0.0))
    // time() = bucket start + step (the evaluation instant)
    val t = PromQl.eval(gauges, "time()", 3600)
      .selectExpr("cast(unix_timestamp(__time_bucket) as double) as b",
        "value")
      .as[(Double, Double)].collect().toSeq
    assert(t.length == 1 && t.head._2 == t.head._1 + 3600)
  }

  test("calendar functions, group aggregator, topk by") {
    import PromQl._
    assert(parse("hour()") == MathFn("hour", TimeFn))
    assert(parse("day_of_week(time())") == MathFn("day_of_week", TimeFn))
    // gauges sit in the 2024-01-01 00:00 bucket → eval instant 01:00 UTC;
    // 2024-01-01 is a Monday (day_of_week 1), January has 31 days
    def one(q: String): Double = PromQl.eval(gauges, q, 3600)
      .select("value").as[Double].collect().head
    assert(one("hour()") == 1.0)
    assert(one("minute()") == 0.0)
    assert(one("day_of_week()") == 1.0)
    assert(one("day_of_month()") == 1.0)
    assert(one("days_in_month()") == 31.0)
    assert(one("month()") == 1.0)
    assert(one("year()") == 2024.0)
    // group: constant 1 per surviving group
    val grp = PromQl.eval(PromQl.withLabels(gauges, Seq("host")),
      "group by (host) (mem_usage)", 3600)
      .orderBy("host").select("host", "value")
      .as[(String, Double)].collect().toSeq
    assert(grp == Seq(("a", 1.0), ("b", 1.0)))
    // topk by: k per (bucket, by-group) — both hosts survive top-1
    val withHost = PromQl.withLabels(gauges, Seq("host"))
    assert(parse("topk by (host) (1, m)") ==
      TopK(1, Selector("m", Nil), bottom = false, Seq("host")))
    val per = PromQl.eval(withHost,
      "topk by (host) (1, sum by (host) (mem_usage))", 3600).count()
    assert(per == 2)
    val global = PromQl.eval(withHost,
      "topk(1, sum by (host) (mem_usage))", 3600).count()
    assert(global == 1)
  }

  test("stddev/stdvar_over_time and sort order") {
    // first window holds the single 100 sample → var 0; the (−1h,1h]
    // window [100,160,20]: mean 280/3, squared deviations
    // (20/3)² + (200/3)² + (220/3)² = 88800/9 → population var 88800/27
    val sv = PromQl.eval(counters,
      "sum by (ServiceName) (stdvar_over_time(requests_total[2h]))", 3600)
      .orderBy("__time_bucket").select("value").as[Double].collect().toSeq
    assert(sv(0) == 0.0)
    assert(math.abs(sv(1) - 88800.0 / 27) < 1e-6)
    val sd = PromQl.eval(counters,
      "sum by (ServiceName) (stddev_over_time(requests_total[2h]))", 3600)
      .orderBy("__time_bucket").select("value").as[Double].collect().toSeq
    assert(math.abs(sd(1) - math.sqrt(88800.0 / 27)) < 1e-6)
    // sort_desc orders rows by value
    val sorted = PromQl.eval(PromQl.withLabels(gauges, Seq("host")),
      "sort_desc(sum by (host) (mem_usage))", 3600)
      .select("value").as[Double].collect().toSeq
    assert(sorted == Seq(50.0, 30.0))
  }

  test("mad_over_time is the interpolated median absolute deviation") {
    // windows: [100] → 0; [100,160,20]: median 100, |dev| sorted
    // [0,60,80] → 60; trailing [160,20]: median 90, |dev| [70,70] → 70
    val m = PromQl.eval(counters,
      "sum by (ServiceName) (mad_over_time(requests_total[2h]))", 3600)
      .orderBy("__time_bucket").select("value").as[Double].collect().toSeq
    assert(m == Seq(0.0, 60.0, 70.0))
    // subquery form: the minute-spaced samples collapse into ONE hourly
    // inner evaluation (last value 20), so both sliding windows it feeds
    // hold a single value → MAD 0 — the wiring, not the spread, is under
    // test here
    val s = PromQl.eval(counters,
      "mad_over_time(sum by (ServiceName) (requests_total)[2h:])", 3600)
      .orderBy("__time_bucket").select("value").as[Double].collect().toSeq
    assert(s == Seq(0.0, 0.0))
    // even count interpolates both medians: [1,2,4,8] → med 3,
    // |dev| [2,1,1,5] → sorted [1,1,2,5] → 1.5
    val even = Seq( // off the hour boundary → all four share one window
      ("m", "s", t(10), 1.0, Map.empty[String, String], 2, false),
      ("m", "s", t(20), 2.0, Map.empty[String, String], 2, false),
      ("m", "s", t(30), 4.0, Map.empty[String, String], 2, false),
      ("m", "s", t(40), 8.0, Map.empty[String, String], 2, false))
      .toDF("MetricName", "ServiceName", "TimeUnix", "Value", "Attributes",
        "AggregationTemporality", "IsMonotonic")
    val e = PromQl.eval(even, "sum by (ServiceName) (mad_over_time(m[1h]))",
      3600).select("value").as[Double].collect().toSeq
    assert(e == Seq(1.5))
  }

  test("histogram_count/sum/avg route the exp-histogram delta pipeline") {
    def hts(h: Int) = Timestamp.valueOf(f"2024-01-01 0$h%d:00:00")
    // cumulative series: first point → 0; +3 obs (+30 sum); reset
    // (count drops) → take current
    val hist = Seq(
      (hts(0), 5L, 50.0), (hts(1), 8L, 80.0), (hts(2), 2L, 10.0))
      .map { case (t, c, s) => ("obs", "svc", t, hts(0), 2, 0, c, s,
        Map("user" -> "a")) }
      .toDF("MetricName", "ServiceName", "TimeUnix", "StartTimeUnix",
        "AggregationTemporality", "Scale", "Count", "Sum", "Attributes")
    def vals(q: String): Seq[Double] = PromQl.eval(hist, q, 3600)
      .orderBy("__time_bucket").select("value").as[Double].collect().toSeq
    assert(vals("histogram_count(obs)") == Seq(0.0, 3.0, 2.0))
    assert(vals("histogram_sum(obs)") == Seq(0.0, 30.0, 10.0))
    val avg = vals("histogram_avg(obs)")
    assert(avg(0).isNaN && avg(1) == 10.0 && avg(2) == 5.0)
  }

  test("histogram_stddev/stdvar use geometric bucket midpoints and the " +
      "true sum/count mean") {
    val t1 = Timestamp.valueOf("2024-01-01 00:00:00")
    // one delta-temporality sample, scale 0: obs {0, 3, 3, 5} → zero
    // bucket 1, bucket idx1 (2,4] ×2, idx2 (4,8] ×1; Sum=11, Count=4
    val hist = Seq(("obs", "svc", t1, t1, 1, 0, 4L, 11.0, 1L,
      1, Array(2L, 1L), 0, Array.empty[Long],
      Map.empty[String, String]))
      .toDF("MetricName", "ServiceName", "TimeUnix", "StartTimeUnix",
        "AggregationTemporality", "Scale", "Count", "Sum", "ZeroCount",
        "PositiveOffset", "PositiveBucketCounts", "NegativeOffset",
        "NegativeBucketCounts", "Attributes")
    val mean = 11.0 / 4
    val mids = Seq(math.pow(2, 1.5) -> 2L, math.pow(2, 2.5) -> 1L,
      0.0 -> 1L)
    val expVar =
      mids.map { case (m, c) => c * (m - mean) * (m - mean) }.sum / 4
    val sv = PromQl.eval(hist, "histogram_stdvar(obs)", 3600)
      .select("value").as[Double].collect().head
    assert(math.abs(sv - expVar) < 1e-9, s"stdvar $sv != $expVar")
    val sd = PromQl.eval(hist, "histogram_stddev(obs)", 3600)
      .select("value").as[Double].collect().head
    assert(math.abs(sd - math.sqrt(expVar)) < 1e-9)
    // negative buckets mirror: idx1 ×2 on the negative side at −2^1.5
    val neg = Seq(("obs", "svc", t1, t1, 1, 0, 2L, -2 * math.pow(2, 1.5),
      0L, 0, Array.empty[Long], 1, Array(2L),
      Map.empty[String, String]))
      .toDF("MetricName", "ServiceName", "TimeUnix", "StartTimeUnix",
        "AggregationTemporality", "Scale", "Count", "Sum", "ZeroCount",
        "PositiveOffset", "PositiveBucketCounts", "NegativeOffset",
        "NegativeBucketCounts", "Attributes")
    val nv = PromQl.eval(neg, "histogram_stdvar(obs)", 3600)
      .select("value").as[Double].collect().head
    // both obs sit exactly at the (negated) midpoint → zero variance
    assert(math.abs(nv) < 1e-9, s"negative-side stdvar $nv != 0")
  }

  test("day_of_year maps the UTC calendar like the other components") {
    val t1 = Timestamp.valueOf("2024-02-01 00:00:00") // day 32, leap year
    val g = Seq(("m", "s", t1, 5.0, Map.empty[String, String], 2, false))
      .toDF("MetricName", "ServiceName", "TimeUnix", "Value", "Attributes",
        "AggregationTemporality", "IsMonotonic")
    val v = PromQl.eval(g, "day_of_year(timestamp(m))", 3600)
      .select("value").as[Double].collect().head
    assert(v == 32.0)
  }

  test("histogram_fraction parses bounds and routes the CDF pipeline") {
    import PromQl._
    assert(parse("histogram_fraction(0, 0.95, m)") ==
      HistFraction(0, 0.95, Selector("m", Nil, 0), Nil))
    assert(parse("histogram_fraction(-Inf, 8, sum by (user) (m))") ==
      HistFraction(Double.NegativeInfinity, 8,
        Selector("m", Nil, 0), Seq("user")))
    // scale-0 delta histogram: buckets (1,2]=1 (2,4]=2 (4,8]=1, zero=1
    val hts = Timestamp.valueOf("2024-01-01 00:00:00")
    val hist = Seq(("obs", "svc", hts, hts, 1, 0, 5L, 1L, 0,
      Seq(1L, 2L, 1L), 0, Seq.empty[Long], Map("user" -> "a")))
      .toDF("MetricName", "ServiceName", "TimeUnix", "StartTimeUnix",
        "AggregationTemporality", "Scale", "Count", "ZeroCount",
        "PositiveOffset", "PositiveBucketCounts", "NegativeOffset",
        "NegativeBucketCounts", "Attributes")
    def frac(q: String): Double = PromQl.eval(hist, q, 3600)
      .select("value").as[Double].collect().head
    // boundary-aligned (2, 8] = 3 of 5 observations
    assert(frac("histogram_fraction(2, 8, obs)") == 0.6)
    assert(frac("histogram_fraction(-Inf, +Inf, obs)") == 1.0)
    assert(frac("histogram_fraction(0, 2, sum by (user) (obs))") == 0.2)
  }

  test("limitk/limit_ratio sample whole series deterministically") {
    import PromQl._
    assert(parse("limitk(2, m)") ==
      LimitK(2.0, Selector("m", Nil), ratio = false))
    assert(parse("limit_ratio(-0.5, m)") ==
      LimitK(-0.5, Selector("m", Nil), ratio = true))
    val fr = PromQl.withLabels(gauges, Seq("host"))
    val all = PromQl.eval(fr, "sum by (host) (mem_usage)", 3600)
      .select("host").as[String].collect().toSeq.sorted
    // limitk(1): exactly one series per bucket, stable across runs
    val one = PromQl.eval(fr, "limitk(1, sum by (host) (mem_usage))", 3600)
      .select("host").as[String].collect().toSeq
    assert(one.distinct.size == 1)
    val again = PromQl.eval(fr,
      "limitk(1, sum by (host) (mem_usage))", 3600)
      .select("host").as[String].collect().toSeq
    assert(one == again)
    // limitk(k ≥ series count) is the identity
    val both = PromQl.eval(fr, "limitk(5, sum by (host) (mem_usage))", 3600)
      .select("host").as[String].collect().toSeq.sorted
    assert(both == all)
    // limit_ratio(r) and limit_ratio(r − 1) partition the series set
    val keep = PromQl.eval(fr,
      "limit_ratio(0.5, sum by (host) (mem_usage))", 3600)
      .select("host").as[String].collect().toSeq
    val rest = PromQl.eval(fr,
      "limit_ratio(-0.5, sum by (host) (mem_usage))", 3600)
      .select("host").as[String].collect().toSeq
    assert((keep ++ rest).sorted == all && keep.toSet.intersect(
      rest.toSet).isEmpty)
  }

  test("@ modifier pins evaluation and replicates across steps") {
    import PromQl._
    assert(parse("m @ 1704067200") ==
      At(Selector("m", Nil), AtTime(1704067200L)))
    assert(parse("rate(m[5m] @ start())") ==
      At(Rate(Selector("m", Nil), 300, increase = false), AtStart))
    assert(parse("avg_over_time(m[1h] @ end())") ==
      At(OverTime("avg", Selector("m", Nil), 3600), AtEnd))
    // three hourly buckets with values 1, 5, 9: a pinned evaluation is
    // constant across the whole spine
    def hts(h: Int) = Timestamp.valueOf(f"2024-01-01 0$h%d:10:00")
    val g = Seq(
      ("m", "s", hts(0), 1.0, Map("host" -> "a"), 2, false),
      ("m", "s", hts(1), 5.0, Map("host" -> "a"), 2, false),
      ("m", "s", hts(2), 9.0, Map("host" -> "a"), 2, false))
      .toDF("MetricName", "ServiceName", "TimeUnix", "Value", "Attributes",
        "AggregationTemporality", "IsMonotonic")
    val fr = PromQl.withLabels(g, Seq("host"))
    def vals(q: String): Seq[Double] = PromQl.eval(fr, q, 3600)
      .orderBy("__time_bucket").select("value").as[Double].collect().toSeq
    assert(vals("sum by (host) (m @ end())") == Seq(9.0, 9.0, 9.0))
    assert(vals("sum by (host) (m @ start())") == Seq(1.0, 1.0, 1.0))
    // pin exactly on the grid: the evaluation whose data ends AT the
    // pin — data up to 02:00 is the 01:xx bucket's value
    val two = Timestamp.valueOf("2024-01-01 02:00:00")
      .toInstant.getEpochSecond
    assert(vals(s"sum by (host) (m @ $two)") == Seq(5.0, 5.0, 5.0))
    // mid-bucket pin (01:10) quantizes DOWN to the causal grid instant
    // 01:00 — the engine never reports data from after the pin, even
    // the same-bucket sample at 01:10 Prometheus itself would see
    val mid = hts(1).toInstant.getEpochSecond
    assert(vals(s"sum by (host) (m @ $mid)") == Seq(1.0, 1.0, 1.0))
  }

  test("present_over_time marks series windows that hold a sample") {
    import PromQl._
    assert(parse("present_over_time(m[1h])") ==
      OverTime("present", Selector("m", Nil), 3600))
    val out = PromQl.eval(gauges, "present_over_time(cpu_usage[2h])", 3600)
      .orderBy("__time_bucket")
      .select("value").as[Double].collect().toSeq
    // cpu samples only at minute 1 → two eval windows hold it
    assert(out == Seq(1.0, 1.0))
  }

  test("parser: comparisons, bool, set ops, math fns, stddev") {
    import PromQl._
    assert(parse("m > 5") ==
      CmpOp(">", Selector("m", Nil), ScalarLit(5.0), bool = false))
    assert(parse("m >= bool 5") ==
      CmpOp(">=", Selector("m", Nil), ScalarLit(5.0), bool = true))
    assert(parse("a and b") ==
      SetOp("and", Selector("a", Nil), Selector("b", Nil)))
    assert(parse("a unless b or c") ==
      SetOp("or", SetOp("unless", Selector("a", Nil), Selector("b", Nil)),
        Selector("c", Nil)))
    // precedence: comparison binds tighter than and
    assert(parse("a > 1 and b") ==
      SetOp("and", CmpOp(">", Selector("a", Nil), ScalarLit(1.0),
        bool = false), Selector("b", Nil)))
    assert(parse("abs(m)") == MathFn("abs", Selector("m", Nil)))
    assert(parse("stddev by (host) (m)") ==
      Aggr("stddev", Seq("host"), Selector("m", Nil)))
    // identifiers starting with keyword prefixes stay selectors
    assert(parse("android + orders") ==
      BinOp("+", Selector("android", Nil), Selector("orders", Nil)))
  }

  test("comparison filters the vector; bool maps to 1/0") {
    val filtered = PromQl.eval(gauges,
      "sum by (ServiceName) (mem_usage) > 100", 3600).count()
    assert(filtered == 0) // 80 is not > 100
    val kept = PromQl.eval(gauges,
      "sum by (ServiceName) (mem_usage) > 50", 3600)
      .select("value").as[Double].collect().toSeq
    assert(kept == Seq(80.0))
    val b = PromQl.eval(gauges,
      "sum by (ServiceName) (mem_usage) > bool 100", 3600)
      .select("value").as[Double].collect().toSeq
    assert(b == Seq(0.0))
  }

  test("set ops: and keeps matches, unless drops them, or unions") {
    val withHost = PromQl.withLabels(gauges, Seq("host"))
    // mem by host = {a: 30, b: 50}; cpu by host = {a: 99}
    val and = PromQl.eval(withHost,
      "sum by (host) (mem_usage) and sum by (host) (cpu_usage)", 3600)
      .select("host", "value").as[(String, Double)].collect().toSeq
    assert(and == Seq(("a", 30.0)))
    val unless = PromQl.eval(withHost,
      "sum by (host) (mem_usage) unless sum by (host) (cpu_usage)", 3600)
      .select("host", "value").as[(String, Double)].collect().toSeq
    assert(unless == Seq(("b", 50.0)))
    val or = PromQl.eval(withHost,
      "sum by (host) (cpu_usage) or sum by (host) (mem_usage)", 3600)
      .orderBy("host")
      .select("host", "value").as[(String, Double)].collect().toSeq
    assert(or == Seq(("a", 99.0), ("b", 50.0)))
  }

  test("math functions apply to the value column") {
    val out = PromQl.eval(gauges,
      "sqrt(sum by (ServiceName) (mem_usage) + 20)", 3600)
      .select("value").as[Double].collect().toSeq
    assert(out == Seq(10.0))
  }

  test("trig functions, pi() scalar, and timestamp()") {
    def one(q: String): Double = PromQl.eval(gauges, q, 3600)
      .select("value").as[Double].collect().head
    // sum by () (mem_usage) = 80 in the single gauges bucket
    assert(math.abs(one("sin(sum by (ServiceName) (mem_usage))") -
      math.sin(80.0)) < 1e-12)
    assert(math.abs(one("atan(tan(sum by (ServiceName) (mem_usage)" +
      " * 0 + 1))") - 1.0) < 1e-12)
    assert(math.abs(one("deg(sum by (ServiceName) (mem_usage)) / 80") -
      math.toDegrees(1.0)) < 1e-12)
    assert(math.abs(one("rad(deg(sum by (ServiceName) (mem_usage)))") -
      80.0) < 1e-9)
    // pi() is a scalar usable in arithmetic
    assert(math.abs(one("sum by (ServiceName) (mem_usage) * pi()") -
      80 * math.Pi) < 1e-9)
    // timestamp() yields the evaluation instant L+step — the same
    // instant time() reports, so time() - timestamp(m) reads 0
    val tsv = PromQl.eval(gauges, "timestamp(mem_usage)", 3600)
      .selectExpr("value",
        "cast(unix_timestamp(__time_bucket) + 3600 as double) as want")
      .collect()
    assert(tsv.nonEmpty && tsv.forall(r =>
      r.getDouble(0) == r.getDouble(1)))
    val stale = PromQl.eval(gauges, "time() - timestamp(mem_usage)", 3600)
      .select("value").as[Double].collect()
    assert(stale.nonEmpty && stale.forall(_ == 0.0))
  }

  test("stddev across series is the population deviation") {
    val withHost = PromQl.withLabels(gauges, Seq("host"))
    // series last-values 30, 50 → mean 40, population stddev 10
    val out = PromQl.eval(withHost, "stddev(mem_usage)", 3600)
      .select("value").as[Double].collect().toSeq
    assert(out == Seq(10.0))
  }

  test("resets/changes count in-window consecutive pairs") {
    // pairs: (100→160), (160→20 reset); window 2h @1h steps
    val ch = PromQl.eval(counters,
      "sum by (ServiceName) (changes(requests_total[2h]))", 3600)
      .orderBy("__time_bucket").select("value").as[Double].collect().toSeq
    // t=0: one sample, no pair → 0 (Prometheus emits 0, not nothing);
    // t=1h: both pairs in (-1h,1h] → 2; t=2h: only (160→20) → 1
    assert(ch == Seq(0.0, 2.0, 1.0))
    val rs = PromQl.eval(counters,
      "sum by (ServiceName) (resets(requests_total[2h]))", 3600)
      .orderBy("__time_bucket").select("value").as[Double].collect().toSeq
    assert(rs == Seq(0.0, 1.0, 1.0))
  }

  test("count_values counts series per distinct value") {
    val out = PromQl.eval(gauges,
      """count_values("v", sum by (host) (mem_usage))""", 3600)
      .orderBy("v")
      .select("v", "value").as[(String, Double)].collect().toSeq
    // hosts a=30, b=50 → one series each per value
    assert(out == Seq(("30.0", 1.0), ("50.0", 1.0)))
  }

  test("classic le-label histogram_quantile interpolates within buckets") {
    // cumulative gauge buckets at one instant: le 0.1→10, 0.5→50, +Inf→60
    val frame = Seq(
      ("b", "api", t(1), 10.0, Map("le" -> "0.1")),
      ("b", "api", t(1), 50.0, Map("le" -> "0.5")),
      ("b", "api", t(1), 60.0, Map("le" -> "+Inf")))
      .toDF("MetricName", "ServiceName", "TimeUnix", "Value", "Attributes")
    // φ=0.5: total 60, rank 30 → bucket (0.1, 0.5]:
    //   0.1 + 0.4·(30−10)/(50−10) = 0.3
    val out = PromQl.eval(frame,
      "histogram_quantile(0.5, sum by (ServiceName, le) (b))", 3600)
      .select("value").as[Double].collect().toSeq
    assert(out == Seq(0.30000000000000004)) // 0.1 + 0.4*0.5 in doubles
    // φ=0.99: rank 59.4 lands in +Inf → largest finite le
    val inf = PromQl.eval(frame,
      "histogram_quantile(0.99, sum by (ServiceName, le) (b))", 3600)
      .select("value").as[Double].collect().toSeq
    assert(inf == Seq(0.5))
  }

  test("metrics named like functions still parse as selectors") {
    import PromQl._
    assert(parse("sum(delta)") == Aggr("sum", Nil, Selector("delta", Nil)))
    assert(parse("rate + 1") ==
      BinOp("+", Selector("rate", Nil), ScalarLit(1.0)))
    assert(parse("abs") == Selector("abs", Nil))
    assert(parse("""count_values{job="x"}""") ==
      Selector("count_values", Seq(("job", "=", "x"))))
  }

  test("vector/vector bool comparison yields one clean value column") {
    val withHost = PromQl.withLabels(gauges, Seq("host"))
    val out = PromQl.eval(withHost,
      "sum by (host) (mem_usage) > bool sum by (host) (cpu_usage)", 3600)
      .orderBy("host")
    assert(out.columns.count(_ == "value") == 1)
    val rows = out.select("host", "value")
      .as[(String, Double)].collect().toSeq
    assert(rows == Seq(("a", 0.0))) // 30 > 99 is false → 0
  }

  test("group_left extra label present on the left is overwritten") {
    val withBoth = PromQl.withLabels(gauges, Seq("host"))
      .withColumn("role", lit("left-role"))
    val out = PromQl.eval(withBoth,
      "sum by (host, role) (mem_usage) * on (host) group_left (role) " +
        "sum by (host, role) (cpu_usage)", 3600)
    assert(out.columns.count(_ == "role") == 1)
    assert(out.select("role").as[String].collect().forall(_ == "left-role"))
  }

  test("count_values replaces a colliding label; value label rejected") {
    val out = PromQl.eval(gauges,
      """count_values("ServiceName", sum by (ServiceName) (mem_usage))""",
      3600)
    assert(out.columns.count(_ == "ServiceName") == 1)
    intercept[PromQl.PromQlParseException](PromQl.eval(gauges,
      """count_values("value", mem_usage)""", 3600).collect())
  }

  test("quantile aggregation across series") {
    val withHost = PromQl.withLabels(gauges, Seq("host"))
    // series last-values 30 (a) and 50 (b): p50 interpolates to 40
    val out = PromQl.eval(withHost, "quantile(0.5, mem_usage)", 3600)
      .select("value").as[Double].collect().toSeq
    assert(out == Seq(40.0))
  }
}
