package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.{EventDeltas, Patterns}
import graft.compile.{MvRouter, QueryCompiler, Series}
import graft.functions.CoreFunctions.TimeBucketAlias
import graft.ir._

/** Sidecar analysis libraries exposed through the driver contract
  * (DRAIN pattern mining and event-delta outlier attribution). Both are
  * deterministic but not SQL-expressible → rows-only checks; semantics are
  * covered by AnalysisSpec. */
object AnalysisQueries {

  /** DRAIN template mining gated end-to-end on a deterministic corpus:
    * synthetic log lines derived from events — the numeric `value` token
    * masks to `<NUM>` before DRAIN (Masking decimal rule), so every line
    * of an event_type collapses to ONE known template and the mined
    * template/count table is exact SQL. The sample covers the whole
    * (bounded) subset, so estimates equal counts. patternId is insertion-
    * order (sample-order) — excluded from the gate. Natural-corpus mining
    * behavior stays covered by PatternsSpec/DrainSpec. */
  def q30_patterns(spark: SparkSession, dir: String): DataFrame = {
    val e = Queries.cat(spark, dir)("events").df
      .filter(col("event_id") < 2000)
      .withColumn("line", concat(col("event_type"), lit(" handled in "),
        col("value").cast("decimal(18,2)"), lit(" ms")))
    Patterns.minePatterns(spark, e, "line", "event_id", sampleSize = 3000)
      .select("template", "sampleCount", "estimatedCount")
      .orderBy(desc("sampleCount"), col("template"))
  }

  val q30_sql: String =
    """SELECT concat(event_type, ' handled in <NUM> ms') AS "template",
      |  count(*) AS "sampleCount", count(*) AS "estimatedCount"
      |FROM events WHERE event_id < 2000
      |GROUP BY event_type
      |ORDER BY "sampleCount" DESC, "template"""".stripMargin

  /** Event-delta attribution: which (column, value) pairs are
    * over-represented among high-value events (reference eventDeltas.ts). */
  def q31_event_deltas(spark: SparkSession, dir: String): DataFrame = {
    val e = Queries.cat(spark, dir)("events").df
      .withColumn("hour", hour(col("ts")))
    EventDeltas.explain(e, col("value") > 190,
      Seq("event_type", "hour", "user_id"))
      .withColumn("outlier_pct", round(col("outlier_pct"), 6))
      .withColumn("inlier_pct", round(col("inlier_pct"), 6))
      .withColumn("score", round(col("score"), 6))
  }

  /** Oracle mirrors the full pipeline: UNION-ALL melt of the three probe
    * columns, per-(key,value) outlier/inlier counts, high-cardinality drop
    * (distinct values ≥ 0.9 × outlier rows), denylist (user_id contains
    * "id" → excluded), full-outer merge with zero-fill, delta score with
    * the 1.5× boost for event_type. Integer/integer divisions and the
    * ±/× score arithmetic are exact-identical doubles on both engines. */
  val q31_sql: String = {
    def melt(src: String): String =
      s"""SELECT 'event_type' AS key, CAST(event_type AS VARCHAR) AS value
         |  FROM $src
         |UNION ALL SELECT 'hour', CAST(hour(ts) AS VARCHAR) FROM $src
         |UNION ALL SELECT 'user_id', CAST(user_id AS VARCHAR) FROM $src"""
        .stripMargin
    s"""WITH o_rows AS (SELECT * FROM events WHERE value > 190),
       |i_rows AS (SELECT * FROM events WHERE NOT (value > 190)),
       |o_m AS (${melt("o_rows")}),
       |i_m AS (${melt("i_rows")}),
       |o_c AS (SELECT key, value, count(*) AS o_cnt FROM o_m
       |        WHERE value IS NOT NULL GROUP BY key, value),
       |i_c AS (SELECT key, value, count(*) AS i_cnt FROM i_m
       |        WHERE value IS NOT NULL GROUP BY key, value),
       |n AS (SELECT greatest(CAST((SELECT count(*) FROM o_rows) AS DOUBLE),
       |               1) AS o_n,
       |             greatest(CAST((SELECT count(*) FROM i_rows) AS DOUBLE),
       |               1) AS i_n),
       |card AS (SELECT key FROM (
       |    SELECT key, count(DISTINCT value) AS nd FROM o_c GROUP BY key)
       |  WHERE nd < 0.9 * (SELECT o_n FROM n)),
       |j AS (
       |  SELECT key, value, coalesce(o_cnt, 0) AS o_cnt,
       |    coalesce(i_cnt, 0) AS i_cnt
       |  FROM o_c FULL JOIN i_c USING (key, value)
       |  WHERE key IN (SELECT key FROM card)
       |    AND NOT (contains(lower(key), 'id') OR
       |             contains(lower(key), 'time') OR
       |             contains(lower(key), 'timestamp') OR
       |             contains(lower(key), 'uuid') OR
       |             contains(lower(key), 'date'))),
       |s AS (
       |  SELECT key, value, o_cnt, i_cnt,
       |    o_cnt / (SELECT o_n FROM n) AS outlier_pct,
       |    i_cnt / (SELECT i_n FROM n) AS inlier_pct,
       |    (o_cnt / (SELECT o_n FROM n) - i_cnt / (SELECT i_n FROM n)) *
       |      (1.0 + (CASE WHEN lower(key) IN ('statuscode', 'severitytext',
       |        'event_type', 'level', 'status') THEN 1 ELSE 0 END) * 0.5)
       |      AS score
       |  FROM j)
       |SELECT key, value, o_cnt, i_cnt,
       |  round(outlier_pct, 6) AS outlier_pct,
       |  round(inlier_pct, 6) AS inlier_pct,
       |  round(score, 6) AS score
       |FROM (SELECT * FROM s ORDER BY score DESC, key, value LIMIT 60)
       |ORDER BY score DESC, key, value""".stripMargin
  }

  /** MV routing: a daily count/sum/avg query answered from an HOURLY
    * pre-aggregate rollup instead of the raw table (reference
    * materializedViews.ts rewrite); the oracle aggregates the raw rows —
    * equality proves the partial-aggregate composition is lossless. */
  def q32_mv_routed(spark: SparkSession, dir: String): DataFrame = {
    val events = Queries.cat(spark, dir)("events").df
    val rollup = MvRouter.buildRollup(events, "ts", 3600,
      Seq("event_type"), Seq("value"))
    val q = Query(
      select = Seq(
        SelectItem("", Some("cnt"), Some(AggFn.Count)),
        SelectItem("value", Some("sum_v"), Some(AggFn.Sum)),
        SelectItem("value", Some("avg_v"), Some(AggFn.Avg))),
      from = "events",
      groupBy = Seq("event_type"),
      granularity = Some(Granularity.Fixed(86400)))
    val routed = MvRouter.tryRoute(q, rollup).getOrElse(
      throw new IllegalStateException("expected MV routing to apply"))
    routed
      .withColumn("bucket", unix_timestamp(col(TimeBucketAlias)))
      .drop(TimeBucketAlias)
      .withColumn("sum_v", round(col("sum_v"), 2))
      // derive avg from the ROUNDED sum so both engines divide identical
      // doubles (raw sums differ by an ulp and land on half-boundaries)
      .withColumn("avg_v", round(col("sum_v") / col("cnt"), 6))
      .select("bucket", "event_type", "cnt", "sum_v", "avg_v")
      .orderBy("bucket", "event_type")
  }

  /** MV routing for quantile + count_distinct through sketch partials
    * (reference quantileState/uniqState MV columns,
    * materializedViews.ts:380-465): an hourly rollup materializes a
    * value→count histogram and a distinct-user theta sketch per cell; the
    * day-level query re-aggregates ONLY the rollup — quantileMerge and
    * distinctMerge are lossless below their caps (4096 bins per cell,
    * 16,384 hashes), so the answer hash-matches the raw-table oracle. */
  def q53_mv_quantile(spark: SparkSession, dir: String): DataFrame = {
    val events = Queries.cat(spark, dir)("events").df
    val rollup = MvRouter.buildRollup(events, "ts", 3600,
      Seq("event_type"), Seq("value", "user_id"), withSketches = true)
    val q = Query(
      select = Seq(
        SelectItem("value", Some("p50"), Some(AggFn.Quantile(0.5))),
        SelectItem("user_id", Some("uniq_users"),
          Some(AggFn.CountDistinct))),
      from = "events",
      groupBy = Seq("event_type"),
      granularity = Some(Granularity.Fixed(86400)))
    val routed = MvRouter.tryRoute(q, rollup).getOrElse(
      throw new IllegalStateException("expected sketch MV routing to apply"))
    routed
      .withColumn("bucket", unix_timestamp(col(TimeBucketAlias)))
      .drop(TimeBucketAlias)
      .withColumn("p50", round(col("p50"), 4))
      .select("bucket", "event_type", "p50", "uniq_users")
      .orderBy("bucket", "event_type")
  }

  val q53_sql: String =
    """SELECT CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS bucket,
      | event_type,
      | round(quantile_cont(value, 0.5), 4) AS p50,
      | count(DISTINCT user_id) AS uniq_users
      |FROM events GROUP BY bucket, event_type
      |ORDER BY bucket, event_type""".stripMargin

  val q32_sql: String =
    """SELECT CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS bucket,
      | event_type, count(*) AS cnt,
      | round(sum(value),2) AS sum_v,
      | round(round(sum(value),2) / count(*), 6) AS avg_v
      |FROM events GROUP BY bucket, event_type
      |ORDER BY bucket, event_type""".stripMargin

  /** MV tiering: the q53 query answered from a COMPACTED rollup — hourly
    * sketch cells re-aggregated to 6-hour cells (ClickHouse TTL GROUP BY
    * lifecycle) with histogram partials unioned under their 4096-bin cap
    * and theta-sketch partials under their 16,384-hash one —
    * then routed. Equality against the raw-table oracle proves the
    * partials are closed under compaction: hourly → 6-hourly → daily
    * merge loses nothing while cells stay under the caps. */
  def q111_mv_compacted(spark: SparkSession, dir: String): DataFrame = {
    val events = Queries.cat(spark, dir)("events").df
    val hourly = MvRouter.buildRollup(events, "ts", 3600,
      Seq("event_type"), Seq("value", "user_id"), withSketches = true)
    val tiered = MvRouter.compactRollup(hourly, 21600)
    val q = Query(
      select = Seq(
        SelectItem("value", Some("p50"), Some(AggFn.Quantile(0.5))),
        SelectItem("user_id", Some("uniq_users"),
          Some(AggFn.CountDistinct))),
      from = "events",
      groupBy = Seq("event_type"),
      granularity = Some(Granularity.Fixed(86400)))
    val routed = MvRouter.tryRoute(q, tiered).getOrElse(
      throw new IllegalStateException(
        "expected compacted-rollup routing to apply"))
    routed
      .withColumn("bucket", unix_timestamp(col(TimeBucketAlias)))
      .drop(TimeBucketAlias)
      .withColumn("p50", round(col("p50"), 4))
      .select("bucket", "event_type", "p50", "uniq_users")
      .orderBy("bucket", "event_type")
  }

  /** Gap filling: hourly signup counts over a fixed range with missing
    * buckets zero-filled (reference WITH FILL / client fillNulls). */
  def q33_gap_fill(spark: SparkSession, dir: String): DataFrame = {
    val range = QueryCompiler.range(
      "2024-01-05T00:00:00Z", "2024-01-07T00:00:00Z")
    val base = QueryCompiler.compile(Query(
      select = Seq(SelectItem("", Some("cnt"), Some(AggFn.Count))),
      from = "events",
      where = Some(Cond.Sql("event_type = 'signup'")),
      granularity = Some(Granularity.Fixed(3600)),
      dateRange = Some(range)), Queries.cat(spark, dir))
    Series.fillGaps(base, TimeBucketAlias, 3600, range, Nil,
      Map("cnt" -> lit(0L)))
      .withColumn("bucket", unix_timestamp(col(TimeBucketAlias)))
      .select("bucket", "cnt")
      .orderBy("bucket")
  }

  val q33_sql: String =
    """WITH spine AS (
      |  SELECT unnest(generate_series(1704412800, 1704585600, 3600))
      |    AS bucket),
      |agg AS (
      |  SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS bucket,
      |    count(*) AS cnt
      |  FROM events
      |  WHERE event_type = 'signup'
      |    AND ts >= '2024-01-05T00:00:00Z' AND ts <= '2024-01-07T00:00:00Z'
      |  GROUP BY bucket)
      |SELECT s.bucket, coalesce(a.cnt, 0) AS cnt
      |FROM spine s LEFT JOIN agg a USING (bucket)
      |ORDER BY bucket""".stripMargin

  /** Service map: parent↔child span correlation — spans synthesized
    * deterministically from events (parent = the decade-leader event of the
    * same user), self-joined on span ids, edges aggregated
    * (reference useServiceMap.tsx; SURVEY §2.6). Broadcastable at sf0.01;
    * a shuffle hash join at 100 TB — both fine, Catalyst/AQE picks. */
  def q34_service_map(spark: SparkSession, dir: String): DataFrame = {
    val e = Queries.cat(spark, dir)("events").df
    val spans = e.select(
      col("event_id").as("span_id"),
      when(col("event_id") % 10 =!= 0, col("event_id") - col("event_id") % 10)
        .otherwise(lit(null)).as("parent_span_id"),
      col("event_type").as("service"),
      col("value").as("duration"))
    val parents = spans.select(col("span_id").as("p_span_id"),
      col("service").as("parent_service"))
    spans.filter(col("parent_span_id").isNotNull)
      .join(parents, col("parent_span_id") === col("p_span_id"))
      .groupBy(col("parent_service"), col("service").as("child_service"))
      .agg(count(lit(1)).as("n_calls"),
        round(avg(col("duration")), 6).as("avg_child_duration"))
      .orderBy("parent_service", "child_service")
  }

  val q34_sql: String =
    """WITH spans AS (
      |  SELECT event_id AS span_id,
      |    CASE WHEN event_id % 10 != 0
      |      THEN event_id - event_id % 10 ELSE NULL END AS parent_span_id,
      |    event_type AS service, value AS duration
      |  FROM events)
      |SELECT p.service AS parent_service, c.service AS child_service,
      |  count(*) AS n_calls,
      |  round(avg(c.duration), 6) AS avg_child_duration
      |FROM spans c JOIN spans p ON c.parent_span_id = p.span_id
      |GROUP BY parent_service, child_service
      |ORDER BY parent_service, child_service""".stripMargin

  /** Ratio per_group: error rate per day = errors / total, computed as two
    * conditional aggregates in ONE frame then divided (reference ratio
    * mode per_group, clickhouse/index.ts:391-448 — engine-side, no client
    * merge). */
  def q35_ratio_per_group(spark: SparkSession, dir: String): DataFrame = {
    val compiled = QueryCompiler.compile(Query(
      select = Seq(
        SelectItem("", Some("errors"), Some(AggFn.Count),
          Some(Cond.Sql("event_type = 'error'"))),
        SelectItem("", Some("total"), Some(AggFn.Count))),
      from = "events",
      granularity = Some(Granularity.Fixed(86400)),
      dateRange = Some(QueryCompiler.range(
        "2024-01-01T00:00:00Z", "2024-03-01T00:00:00Z"))),
      Queries.cat(spark, dir))
    Series.ratio(compiled, RatioMode.PerGroup, "errors", "total",
      outCol = "error_rate")
      .withColumn("bucket", unix_timestamp(col(TimeBucketAlias)))
      .withColumn("error_rate", round(col("error_rate"), 6))
      .select("bucket", "errors", "total", "error_rate")
      .orderBy("bucket")
  }

  val q35_sql: String =
    """SELECT CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS bucket,
      |  count(*) FILTER (WHERE event_type = 'error') AS errors,
      |  count(*) AS total,
      |  round(CAST(count(*) FILTER (WHERE event_type = 'error') AS DOUBLE)
      |        / count(*), 6) AS error_rate
      |FROM events
      |WHERE ts >= '2024-01-01T00:00:00Z' AND ts <= '2024-03-01T00:00:00Z'
      |GROUP BY bucket ORDER BY bucket""".stripMargin

  /** Ratio share_of_total: each event_type's daily high-value events as a
    * share of the day's TOTAL events across all types — divides by the
    * denominator's bucket total so the grouped shares decompose the
    * blended rate (reference buildBucketTotalDenominator,
    * clickhouse/index.ts:464-485). */
  def q46_share_of_total(spark: SparkSession, dir: String): DataFrame = {
    val compiled = QueryCompiler.compile(Query(
      select = Seq(
        SelectItem("", Some("hot"), Some(AggFn.Count),
          Some(Cond.Sql("value > 190"))),
        SelectItem("", Some("total"), Some(AggFn.Count))),
      from = "events",
      groupBy = Seq("event_type"),
      granularity = Some(Granularity.Fixed(86400)),
      dateRange = Some(QueryCompiler.range(
        "2024-01-01T00:00:00Z", "2024-03-01T00:00:00Z"))),
      Queries.cat(spark, dir))
    Series.ratio(compiled, RatioMode.ShareOfTotal, "hot", "total",
      outCol = "share")
      .withColumn("bucket", unix_timestamp(col(TimeBucketAlias)))
      .withColumn("share", round(col("share"), 6))
      .select("bucket", "event_type", "hot", "share")
      .orderBy("bucket", "event_type")
  }

  val q46_sql: String =
    """WITH a AS (
      |  SELECT CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS bucket,
      |    event_type,
      |    count(*) FILTER (WHERE value > 190) AS hot,
      |    count(*) AS total
      |  FROM events
      |  WHERE ts >= '2024-01-01T00:00:00Z' AND ts <= '2024-03-01T00:00:00Z'
      |  GROUP BY bucket, event_type)
      |SELECT bucket, event_type, hot,
      |  round(CAST(hot AS DOUBLE) /
      |        sum(total) OVER (PARTITION BY bucket), 6) AS share
      |FROM a ORDER BY bucket, event_type""".stripMargin

  /** As-of join gated against DuckDB's native ASOF LEFT JOIN — a fully
    * independent implementation of the same semantics. Left = error
    * events (the "log" side); right = a pseudo metric stream (per-user
    * 10-minute max of value over the NON-error events, so matches can be
    * genuinely stale or absent); tolerance nulls matches older than
    * 30 minutes while keeping the left row. */
  def q82_asof(spark: SparkSession, dir: String): DataFrame = {
    val ev = Queries.cat(spark, dir)("events").df
    val left = ev.filter(col("event_type") === "error")
      .select("event_id", "user_id", "ts")
    val right = ev.filter(col("event_type") =!= "error")
      .groupBy(col("user_id"),
        graft.functions.CoreFunctions.timeBucket(col("ts"), 600).as("ts"))
      .agg(max(col("value")).as("mval"))
    graft.analysis.AsOfJoin
      .backward(left, right, "ts", Seq("user_id"),
        tolerance = Some(1800L))
      .select(
        col("event_id"), col("user_id"),
        unix_timestamp(col("right_ts")).as("rt"),
        round(col("right_mval"), 6).as("mval"))
      .orderBy("event_id")
  }

  val q82_sql: String =
    """WITH l AS (
      |  SELECT event_id, user_id, ts FROM events
      |  WHERE event_type = 'error'),
      |r AS (
      |  SELECT user_id,
      |    to_timestamp(floor(epoch(ts)/600)*600) AS ts,
      |    max(value) AS mval
      |  FROM events WHERE event_type <> 'error'
      |  GROUP BY user_id, 2)
      |SELECT l.event_id, l.user_id,
      |  CASE WHEN epoch(l.ts) - epoch(r.ts) > 1800 THEN NULL
      |    ELSE CAST(epoch(r.ts) AS BIGINT) END AS rt,
      |  CASE WHEN epoch(l.ts) - epoch(r.ts) > 1800 THEN NULL
      |    ELSE round(r.mval, 6) END AS mval
      |FROM l ASOF LEFT JOIN r
      |  ON l.user_id = r.user_id AND l.ts >= r.ts
      |ORDER BY l.event_id""".stripMargin

  /** Gap-timeout sessionization gated against a DuckDB window
    * re-derivation (lag-gap flag → cumulative sum → group): per-user
    * sessions with a 30-minute timeout over events. Equal-timestamp
    * ties share a session on both engines (RANGE cumulative frame), so
    * the grouping is deterministic. */
  def q83_sessionize(spark: SparkSession, dir: String): DataFrame = {
    val ev = Queries.cat(spark, dir)("events").df
    graft.analysis.Sessionize
      .sessions(ev, "ts", Seq("user_id"), gapSeconds = 1800.0)
      .select(
        col("user_id"),
        unix_timestamp(col("session_start")).as("session_start"),
        unix_timestamp(col("session_end")).as("session_end"),
        col("events"))
      .orderBy("user_id", "session_start")
  }

  val q83_sql: String =
    """WITH x AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |      OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1
      |      ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (
      |  SELECT user_id, ts,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sid
      |  FROM x)
      |SELECT user_id,
      |  -- floor, not CAST: DuckDB double→BIGINT rounds, Spark's
      |  -- unix_timestamp floors
      |  CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
      |  CAST(floor(epoch(max(ts))) AS BIGINT) AS session_end,
      |  count(*) AS events
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** Heavy-hitters facet: per-day top-3 event_types by count via the
    * bounded Misra-Gries sketch. Capacity 64 far exceeds the event_type
    * domain at any SF, so the sketch is provably exact here and the
    * DuckDB oracle is a plain exact GROUP BY + rank — the same
    * capacity-exactness contract MvRouter's sketches gate on (q32/q53).
    * At 100 TB the sketch ships ≤ 64 counters per (day) cell through
    * the shuffle no matter how many distinct values exist. */
  def q84_heavy_hitters(spark: SparkSession, dir: String): DataFrame = {
    val ev = Queries.cat(spark, dir)("events").df
    val day = graft.functions.CoreFunctions.timeBucket(col("ts"), 86400)
    ev.groupBy(day.as("day"))
      .agg(graft.functions.FrequentItems
        .freqItems(col("event_type"), 64).as("m"))
      .select(unix_timestamp(col("day")).as("bucket"),
        explode(col("m")).as(Seq("value", "cnt")))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("bucket"))
          .orderBy(desc("cnt"), col("value"))))
      .filter(col("rk") <= 3).drop("rk")
      .orderBy("bucket", "value")
  }

  val q84_sql: String =
    """WITH c AS (
      |  SELECT CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS bucket,
      |    event_type AS value, count(*) AS cnt
      |  -- ordinals: a bare `value` in GROUP BY binds to the events
      |  -- column of that name, not the alias
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT bucket, value, cnt, row_number() OVER
      |    (PARTITION BY bucket ORDER BY cnt DESC, value) AS rk
      |  FROM c)
      |SELECT bucket, value, cnt FROM r WHERE rk <= 3
      |ORDER BY bucket, value""".stripMargin

  /** Trace-tree assembly: a deterministic span forest derived from
    * event_id (ids < 100 are roots, everything else parents to id/7 —
    * both sides derive it identically), resolved to (root, depth) per
    * node by [[graft.analysis.Hierarchy]]'s pointer doubling — O(log
    * depth) join rounds where the oracle's recursive CTE walks one edge
    * per round. Gate compares the depth histogram + tree fan-out. */
  def q86_trace_depths(spark: SparkSession, dir: String): DataFrame = {
    val nodes = Queries.cat(spark, dir)("events").df
      .select(col("event_id").cast("long").as("id"),
        when(col("event_id") < 100, lit(null).cast("long"))
          .otherwise(floor(col("event_id") / 7).cast("long"))
          .as("parent"))
    graft.analysis.Hierarchy.resolve(nodes)
      .groupBy("depth")
      .agg(count(lit(1)).as("nodes"),
        countDistinct(col("root")).as("roots"))
      .orderBy("depth")
  }

  val q86_sql: String =
    """WITH RECURSIVE t AS (
      |  SELECT event_id AS id, event_id AS root, CAST(0 AS BIGINT) AS depth
      |  FROM events WHERE event_id < 100
      |  UNION ALL
      |  SELECT e.event_id, t.root, t.depth + 1
      |  FROM events e JOIN t ON e.event_id // 7 = t.id
      |  WHERE e.event_id >= 100)
      |SELECT depth, count(*) AS nodes, count(DISTINCT root) AS roots
      |FROM t GROUP BY depth ORDER BY depth""".stripMargin

  /** Interval overlap join gate ([[graft.analysis.Intervals.overlapJoin]]):
    * user activity sessions (gap 1800 s, +60 s tail grace) range-joined
    * with global error bursts (error events sessionized at gap 600 s,
    * +60 s grace) — "which sessions did each incident touch", the
    * session-replay timeline correlation (reference sessions.ts serves
    * sessions whose span intersects the requested range). Bounds floor
    * to whole epoch seconds on both engines (the q83 parity convention)
    * so the non-equi predicates compare identical integers. The engine
    * side is the bucketed band join (1 h buckets, first-shared-bucket
    * dedup — an equi-join Catalyst hash-partitions); the oracle is
    * DuckDB's native IEJoin over the same predicate. */
  def q100_session_overlap(spark: SparkSession, dir: String): DataFrame = {
    val ev = Queries.cat(spark, dir)("events").df
    val sess = graft.analysis.Sessionize
      .sessions(ev, "ts", Seq("user_id"), gapSeconds = 1800.0)
      .select(col("user_id"),
        unix_timestamp(col("session_start")).as("u_start"),
        (unix_timestamp(col("session_end")) + 60L).as("u_end"))
    val bursts = graft.analysis.Sessionize
      .sessions(ev.filter(col("event_type") === "error"), "ts",
        Seq("event_type"), gapSeconds = 600.0)
      .select(unix_timestamp(col("session_start")).as("i_start"),
        (unix_timestamp(col("session_end")) + 60L).as("i_end"))
    // bursts are a GLOBAL sessionization of error events: their count
    // is bounded by time-range/gap, not corpus rows — the broadcast
    // side stays small at any scale, and the banded session side
    // (the round-15 campaign's 436 MB @100× shuffle) never exchanges
    graft.analysis.Intervals.overlapJoin(sess, bursts,
        "u_start", "u_end", "i_start", "i_end", bucketSeconds = 3600L,
        broadcastRight = true)
      .groupBy(floor(col("i_start") / 86400L).cast("long").as("day"))
      .agg(count(lit(1)).as("n_overlaps"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("overlap_seconds")).cast("long").as("overlap_s"))
      .orderBy("day")
  }

  val q100_sql: String =
    """WITH x AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |      OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1
      |      ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (
      |  SELECT user_id,
      |    CAST(floor(epoch(min(ts))) AS BIGINT) AS u_start,
      |    CAST(floor(epoch(max(ts))) AS BIGINT) + 60 AS u_end
      |  FROM (SELECT user_id, ts,
      |          sum(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sid
      |        FROM x)
      |  GROUP BY user_id, sid),
      |y AS (
      |  SELECT ts,
      |    CASE WHEN lag(ts) OVER v IS NULL
      |      OR epoch(ts) - epoch(lag(ts) OVER v) > 600 THEN 1
      |      ELSE 0 END AS brk
      |  FROM events WHERE event_type = 'error'
      |  WINDOW v AS (ORDER BY ts)),
      |i AS (
      |  SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS i_start,
      |    CAST(floor(epoch(max(ts))) AS BIGINT) + 60 AS i_end
      |  FROM (SELECT ts, sum(brk) OVER (ORDER BY ts) AS sid FROM y)
      |  GROUP BY sid),
      |p AS (
      |  SELECT s.user_id, i.i_start,
      |    least(s.u_end, i.i_end) - greatest(s.u_start, i.i_start) AS ov
      |  FROM s JOIN i
      |    ON greatest(s.u_start, i.i_start) < least(s.u_end, i.i_end))
      |SELECT CAST(floor(i_start / 86400.0) AS BIGINT) AS day,
      |  count(*) AS n_overlaps,
      |  count(DISTINCT user_id) AS n_users,
      |  CAST(sum(ov) AS BIGINT) AS overlap_s
      |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  /** Concurrency sweep gate ([[graft.analysis.Intervals.concurrency]]):
    * the exact active-session step function over the same graced user
    * sessions — every distinct boundary second with the number of
    * sessions covering [t, next). The engine computes it with the
    * distributed prefix sum (range partition + per-partition cumsum over
    * driver-side bases); the oracle is DuckDB's global running-sum window
    * over the same ±1 deltas. Full-fidelity compare: every boundary row
    * hashes, so a single misplaced delta anywhere in the sweep fails
    * the gate. */
  def q101_concurrency(spark: SparkSession, dir: String): DataFrame = {
    val ev = Queries.cat(spark, dir)("events").df
    val sess = graft.analysis.Sessionize
      .sessions(ev, "ts", Seq("user_id"), gapSeconds = 1800.0)
      .select(unix_timestamp(col("session_start")).as("s"),
        (unix_timestamp(col("session_end")) + 60L).as("e"))
    graft.analysis.Intervals.concurrency(sess, "s", "e")
      .select(col("t").cast("long").as("t"), col("active"))
      .orderBy("t")
  }

  val q101_sql: String =
    """WITH x AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |      OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1
      |      ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (
      |  SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS s,
      |    CAST(floor(epoch(max(ts))) AS BIGINT) + 60 AS e
      |  FROM (SELECT user_id, ts,
      |          sum(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sid
      |        FROM x)
      |  GROUP BY user_id, sid),
      |d AS (
      |  SELECT s AS t, 1 AS dv FROM s
      |  UNION ALL
      |  SELECT e AS t, -1 AS dv FROM s),
      |g AS (SELECT t, sum(dv) AS dv FROM d GROUP BY t)
      |SELECT t, CAST(sum(dv) OVER (ORDER BY t) AS BIGINT) AS active
      |FROM g ORDER BY t""".stripMargin

  /** windowFunnel gate ([[graft.analysis.Funnel]]): the view → click →
    * purchase conversion funnel inside a 6 h window anchored at the
    * view. The engine runs the greedy per-key array scan (one shuffle +
    * expression-only HOF); the oracle is the INDEPENDENT classic
    * formulation — a 3-way self-join existence check per level — so a
    * shared misreading of windowFunnel semantics cannot pass both
    * sides. Window comparisons use the identical `later - earlier ≤ W`
    * subtraction form in both engines. */
  def q102_funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Queries.cat(spark, dir)("events").df
    graft.analysis.Funnel.report(ev, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"), windowSeconds = 21600.0)
  }

  val q102_sql: String =
    """WITH se AS (
      |  SELECT user_id, epoch(ts) AS t, event_type FROM events
      |  WHERE event_type IN ('view', 'click', 'purchase')),
      |l1 AS (SELECT DISTINCT user_id FROM se WHERE event_type = 'view'),
      |l2 AS (
      |  SELECT DISTINCT v.user_id
      |  FROM se v JOIN se c ON c.user_id = v.user_id
      |  WHERE v.event_type = 'view' AND c.event_type = 'click'
      |    AND c.t >= v.t AND c.t - v.t <= 21600),
      |p2 AS (SELECT user_id, t FROM se WHERE event_type = 'purchase'),
      |l3 AS (
      |  SELECT DISTINCT v.user_id
      |  FROM se v
      |  JOIN se c ON c.user_id = v.user_id
      |  JOIN p2 p ON p.user_id = v.user_id
      |  WHERE v.event_type = 'view' AND c.event_type = 'click'
      |    AND c.t >= v.t AND c.t - v.t <= 21600
      |    AND p.t >= c.t AND p.t - v.t <= 21600),
      |lv AS (
      |  SELECT a.user_id,
      |    CASE WHEN l3.user_id IS NOT NULL THEN 3
      |         WHEN l2.user_id IS NOT NULL THEN 2
      |         WHEN l1.user_id IS NOT NULL THEN 1
      |         ELSE 0 END AS level
      |  FROM (SELECT DISTINCT user_id FROM se) a
      |  LEFT JOIN l1 USING (user_id)
      |  LEFT JOIN l2 USING (user_id)
      |  LEFT JOIN l3 USING (user_id)),
      |h AS (SELECT level, count(*) AS n_keys FROM lv GROUP BY 1)
      |SELECT level, n_keys,
      |  CAST(sum(n_keys) OVER (ORDER BY level DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS n_at_least
      |FROM h ORDER BY level""".stripMargin

  /** Cohort retention gate ([[graft.analysis.Retention]]): users
    * cohorted by first-active day, (cohort × day-offset) active counts
    * and rates — the ClickHouse retention-function shape as a full
    * cohort table. Oracle replays the definition directly. */
  def q103_retention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Queries.cat(spark, dir)("events").df
    graft.analysis.Retention.table(ev, "user_id", "ts")
      .select(col("cohort").cast("string").as("cohort"),
        col("offset_days"), col("n_active"), col("n_cohort"), col("rate"))
      .orderBy("cohort", "offset_days")
  }

  val q103_sql: String =
    """WITH act AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |coh AS (SELECT user_id, min(d) AS cohort FROM act GROUP BY 1),
      |a2 AS (
      |  SELECT act.user_id, coh.cohort, act.d - coh.cohort AS off
      |  FROM act JOIN coh USING (user_id)),
      |sz AS (SELECT cohort, count(*) AS n_cohort FROM a2
      |       WHERE off = 0 GROUP BY 1),
      |g AS (SELECT cohort, off, count(*) AS n_active FROM a2
      |      GROUP BY 1, 2)
      |SELECT CAST(g.cohort AS VARCHAR) AS cohort,
      |  CAST(off AS BIGINT) AS offset_days, n_active, n_cohort,
      |  round(n_active * 1.0 / n_cohort, 4) AS rate
      |FROM g JOIN sz USING (cohort) ORDER BY 1, 2""".stripMargin

  /** Span self-time gate ([[graft.analysis.CriticalPath]]): the
    * flamegraph aggregation over a deterministic synthetic span forest
    * (q86's parent scheme — parent = id/7, roots below 100 — with
    * integral-second intervals s = (id·37) mod 100000, dur = id mod 120
    * + 5, so siblings overlap parents partially/fully/not-at-all
    * pseudo-randomly). The engine merges sibling islands per parent;
    * the oracle is the INDEPENDENT per-second census — each clipped
    * child explodes to its covered seconds and covered = count(DISTINCT
    * sec) — so a shared misreading of interval-union semantics cannot
    * pass both sides. Self time per event_type: where the wall-clock
    * actually went. */
  def q104_critical_path(spark: SparkSession, dir: String): DataFrame = {
    val spans = Queries.cat(spark, dir)("events").df
      .select(col("event_id").cast("long").as("id"),
        when(col("event_id") < 100, lit(null).cast("long"))
          .otherwise(floor(col("event_id") / 7).cast("long"))
          .as("parent"),
        col("event_type"),
        ((col("event_id") * 37) % 100000).cast("long").as("s"))
      .withColumn("e", col("s") + (col("id") % 120) + lit(5L))
    graft.analysis.CriticalPath.selfTime(spans)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s")).as("sum_dur"),
        sum(col("covered")).as("sum_covered"),
        sum(col("self_time")).as("sum_self"))
      .orderBy("event_type")
  }

  val q104_sql: String =
    """WITH spans AS (
      |  SELECT event_id AS id,
      |    CASE WHEN event_id < 100 THEN NULL
      |         ELSE event_id // 7 END AS parent,
      |    event_type,
      |    (event_id * 37) % 100000 AS s,
      |    (event_id * 37) % 100000 + event_id % 120 + 5 AS e
      |  FROM events),
      |ch AS (
      |  SELECT p.id AS pid, greatest(c.s, p.s) AS cs,
      |    least(c.e, p.e) AS ce
      |  FROM spans c JOIN spans p ON c.parent = p.id
      |  WHERE least(c.e, p.e) > greatest(c.s, p.s)),
      |cov AS (
      |  SELECT pid, count(DISTINCT sec) AS covered
      |  FROM ch, LATERAL unnest(generate_series(cs, ce - 1)) AS u(sec)
      |  GROUP BY pid)
      |SELECT event_type, count(*) AS n_spans,
      |  CAST(sum(e - s) AS BIGINT) AS sum_dur,
      |  CAST(sum(coalesce(covered, 0)) AS BIGINT) AS sum_covered,
      |  CAST(sum(e - s - coalesce(covered, 0)) AS BIGINT) AS sum_self
      |FROM spans LEFT JOIN cov ON spans.id = cov.pid
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Multi-window SLO burn-rate gate ([[graft.analysis.Slo]]): error
    * ratio of ALL events over trailing 5 m / 1 h windows at a 60 s step
    * against a 10% error budget; `firing` needs both windows above 2×
    * burn. The engine runs the bounded explode-to-steps sliding plan
    * (the PromQL machinery's shape); the oracle is DuckDB's RANGE-frame
    * running window over the gap-filled spine — an independent
    * formulation of the same trailing sums. Counts are integers on both
    * sides, so the burn doubles are bit-identical IEEE divisions. */
  def q105_burn_rate(spark: SparkSession, dir: String): DataFrame = {
    val ev = Queries.cat(spark, dir)("events").df
    graft.analysis.Slo.multiWindowAlert(ev, "ts",
        col("event_type") === "error", stepSeconds = 60L,
        shortWindow = 300L, longWindow = 3600L,
        errorBudget = 0.1, threshold = 2.0)
      .select(col("bucket"), col("total_300s"), col("err_300s"),
        col("burn_300s"), col("total_3600s"), col("err_3600s"),
        col("burn_3600s"), col("firing"))
      .orderBy("bucket")
  }

  val q105_sql: String =
    """WITH c AS (
      |  SELECT CAST(floor(epoch(ts) / 60) * 60 AS BIGINT) AS bucket,
      |    count(*) AS n,
      |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS err
      |  FROM events GROUP BY 1),
      |sp AS (
      |  SELECT unnest(generate_series((SELECT min(bucket) FROM c),
      |    (SELECT max(bucket) FROM c), 60)) AS bucket),
      |f AS (
      |  SELECT sp.bucket, coalesce(n, 0) AS n, coalesce(err, 0) AS err
      |  FROM sp LEFT JOIN c USING (bucket)),
      |w AS (
      |  SELECT bucket,
      |    sum(n) OVER (ORDER BY bucket
      |      RANGE BETWEEN 240 PRECEDING AND CURRENT ROW) AS t5,
      |    sum(err) OVER (ORDER BY bucket
      |      RANGE BETWEEN 240 PRECEDING AND CURRENT ROW) AS e5,
      |    sum(n) OVER (ORDER BY bucket
      |      RANGE BETWEEN 3540 PRECEDING AND CURRENT ROW) AS t60,
      |    sum(err) OVER (ORDER BY bucket
      |      RANGE BETWEEN 3540 PRECEDING AND CURRENT ROW) AS e60
      |  FROM f)
      |SELECT bucket,
      |  CAST(t5 AS BIGINT) AS total_300s, CAST(e5 AS BIGINT) AS err_300s,
      |  CASE WHEN t5 > 0 THEN (e5 * 1.0 / t5) / 0.1 END AS burn_300s,
      |  CAST(t60 AS BIGINT) AS total_3600s,
      |  CAST(e60 AS BIGINT) AS err_3600s,
      |  CASE WHEN t60 > 0 THEN (e60 * 1.0 / t60) / 0.1 END AS burn_3600s,
      |  CAST(CASE WHEN t5 > 0 AND (e5 * 1.0 / t5) / 0.1 > 2.0
      |    AND t60 > 0 AND (e60 * 1.0 / t60) / 0.1 > 2.0
      |    THEN 1 ELSE 0 END AS BIGINT) AS firing
      |FROM w ORDER BY bucket""".stripMargin

  /** sequenceMatch gate ([[graft.analysis.Sequence]]): per-user event
    * patterns over the view/click/purchase condition events —
    * `(?1)(?t<=900)(?2)` (a click as the VERY NEXT considered event
    * within 15 min of a view: adjacency + time guard) and
    * `(?1).*(?2).*(?3)` (the ordered subsequence). The engine runs the
    * memoized backtracking matcher per key; the oracle formulates each
    * pattern independently — adjacency as a lead() window over the
    * identically-ordered considered events, the subsequence as the
    * classic 3-way self-join existence. Ties order by (ts, mask) on
    * both sides. */
  def q106_sequence_match(spark: SparkSession, dir: String): DataFrame = {
    val ev = Queries.cat(spark, dir)("events").df
    val conds = Seq(col("event_type") === "view",
      col("event_type") === "click", col("event_type") === "purchase")
    val adj = graft.analysis.Sequence
      .matches(ev, "user_id", "ts", conds, "(?1)(?t<=900)(?2)")
      .select(col("user_id"),
        when(col("matched"), 1L).otherwise(0L).as("m_adjacent"))
    val sub = graft.analysis.Sequence
      .matches(ev, "user_id", "ts", conds, "(?1).*(?2).*(?3)")
      .select(col("user_id"),
        when(col("matched"), 1L).otherwise(0L).as("m_subseq"))
    // sequenceCount gate: for DISTINCT adjacent conds, non-overlapping
    // greedy matches can never share an event, so the count equals the
    // plain adjacency count — which the oracle states with lead()
    val cnt = graft.analysis.Sequence
      .counts(ev, "user_id", "ts", conds, "(?1)(?2)")
      .withColumnRenamed("n_matches", "n_view_click")
    adj.join(sub, Seq("user_id")).join(cnt, Seq("user_id"))
      .orderBy("user_id")
  }

  val q106_sql: String =
    """WITH se AS (
      |  SELECT user_id, epoch(ts) AS t, event_type AS e,
      |    CASE event_type WHEN 'view' THEN 2 WHEN 'click' THEN 4
      |      ELSE 8 END AS mk
      |  FROM events
      |  WHERE event_type IN ('view', 'click', 'purchase')),
      |ord AS (
      |  SELECT user_id, t, e, lead(e) OVER w AS ne, lead(t) OVER w AS nt
      |  FROM se WINDOW w AS (PARTITION BY user_id ORDER BY t, mk)),
      |adj AS (
      |  SELECT user_id,
      |    max(CASE WHEN e = 'view' AND ne = 'click' AND nt - t <= 900
      |      THEN 1 ELSE 0 END) AS m_adjacent,
      |    CAST(sum(CASE WHEN e = 'view' AND ne = 'click'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click
      |  FROM ord GROUP BY user_id),
      |sub AS (
      |  SELECT DISTINCT v.user_id
      |  FROM se v
      |  JOIN se c ON c.user_id = v.user_id
      |  JOIN se p ON p.user_id = v.user_id
      |  WHERE v.e = 'view' AND c.e = 'click' AND p.e = 'purchase'
      |    AND c.t >= v.t AND p.t >= c.t)
      |SELECT a.user_id, CAST(a.m_adjacent AS BIGINT) AS m_adjacent,
      |  CAST(CASE WHEN s.user_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
      |    AS m_subseq, a.n_view_click
      |FROM adj a LEFT JOIN sub s ON a.user_id = s.user_id
      |ORDER BY a.user_id""".stripMargin

  /** CUSUM change-point gate ([[graft.analysis.ChangePoint]]): two-sided
    * tabular CUSUM over the per-type hourly gauge sums (target 150,
    * slack 20, threshold 100) — sustained level shifts accumulate into
    * alarms a fixed threshold misses. The engine folds each series'
    * sorted bucket array through one expression-only HOF; the oracle is
    * the INDEPENDENT sequential formulation — a DuckDB recursive CTE
    * stepping row-by-row. Inputs round to 4 decimals before the
    * recursion so both engines fold bit-identical doubles through the
    * same op sequence. */
  def q108_cusum(spark: SparkSession, dir: String): DataFrame = {
    val ev = Queries.cat(spark, dir)("events").df
    val x = ev
      .groupBy((floor(unix_timestamp(col("ts")) / 3600L) * 3600L)
        .cast("long").as("bucket"),
        col("event_type"), col("user_id"))
      .agg(max_by(col("value"), col("ts")).as("v"))
      .groupBy("bucket", "event_type")
      .agg(round(sum(col("v")), 4).as("x"))
    graft.analysis.ChangePoint.cusum(x, Seq("event_type"), "bucket",
        "x", slack = 20.0, threshold = 100.0, target = Some(150.0))
      .select(col("bucket"), col("event_type"), col("x"),
        round(col("s_pos"), 4).as("s_pos"),
        round(col("s_neg"), 4).as("s_neg"), col("alarm"))
      .orderBy("event_type", "bucket")
  }

  val q108_sql: String =
    """WITH RECURSIVE pts AS (
      |  SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS bucket,
      |         event_type, user_id, value, ts
      |  FROM events),
      |last AS (
      |  SELECT bucket, event_type, user_id, arg_max(value, ts) AS v
      |  FROM pts GROUP BY bucket, event_type, user_id),
      |s AS (
      |  SELECT bucket, event_type, round(sum(v), 4) AS x
      |  FROM last GROUP BY bucket, event_type),
      |ord AS (
      |  SELECT bucket, event_type, x,
      |    row_number() OVER (PARTITION BY event_type ORDER BY bucket)
      |      AS rn
      |  FROM s),
      |rec AS (
      |  SELECT event_type, rn, bucket, x,
      |    greatest(0, x - 150 - 20) AS sp,
      |    greatest(0, 150 - x - 20) AS sn
      |  FROM ord WHERE rn = 1
      |  UNION ALL
      |  SELECT o.event_type, o.rn, o.bucket, o.x,
      |    greatest(0, r.sp + (o.x - 150 - 20)),
      |    greatest(0, r.sn + (150 - o.x - 20))
      |  FROM ord o JOIN rec r
      |    ON o.event_type = r.event_type AND o.rn = r.rn + 1)
      |SELECT bucket, event_type, x,
      |  round(sp, 4) AS s_pos, round(sn, 4) AS s_neg,
      |  CAST(CASE WHEN sp > 100 OR sn > 100 THEN 1 ELSE 0 END AS BIGINT)
      |    AS alarm
      |FROM rec ORDER BY event_type, bucket""".stripMargin

  /** Template novelty/surge triage at the driver gate: masked-template
    * rate diff between the Jan 1–16 baseline and the Jan 16–Feb 1
    * current window, with three planted families — `v2_`-prefixed copies
    * (every 50th current-half event) land as NEW templates, tripled
    * current-half clicks land as SURGE, and a thinned current-half view
    * stream (3 of 4 removed) lands as DROP; untouched types stay STEADY.
    * Lines render `value` into the text so the decimal-mask rule is
    * exercised distributedly; the oracle rebuilds each template from
    * event_type (every rendered double masks to `<NUM>`), replaying the
    * same union, windows, rates, and rounded-ratio thresholds. */
  def q110_template_novelty(spark: SparkSession, dir: String): DataFrame = {
    val e = Queries.cat(spark, dir)("events").df
    val split = lit(java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-16T00:00:00Z")))
    val thinned = e.filter(!(col("event_type") === "view" &&
      col("ts") >= split && col("event_id") % 4 =!= 0))
    val planted = e.filter(col("ts") >= split && col("event_id") % 50 === 0)
      .withColumn("event_type", concat(lit("v2_"), col("event_type")))
    val surged = e.filter(col("ts") >= split &&
      col("event_type") === "click")
    val corpus = thinned.unionByName(planted)
      .unionByName(surged).unionByName(surged)
      // decimal render: doubles outside [1e-3, 1e7) would print in
      // scientific notation, which no Masking rule collapses
      .withColumn("line", concat(col("event_type"), lit(" handled in "),
        col("value").cast("decimal(18,2)"), lit(" ms")))
    Patterns.templateDiff(corpus, "line", "ts", "2024-01-01T00:00:00Z",
      "2024-01-16T00:00:00Z", "2024-02-01T00:00:00Z", surgeRatio = 2.0)
      .orderBy("template")
  }

  val q110_sql: String =
    """WITH ev AS (SELECT event_id, ts, event_type FROM events),
      |corpus AS (
      |  SELECT event_type, ts FROM ev
      |  WHERE NOT (event_type = 'view' AND ts >= TIMESTAMP '2024-01-16'
      |             AND event_id % 4 <> 0)
      |  UNION ALL
      |  SELECT 'v2_' || event_type, ts FROM ev
      |  WHERE ts >= TIMESTAMP '2024-01-16' AND event_id % 50 = 0
      |  UNION ALL
      |  SELECT event_type, ts FROM ev
      |  WHERE ts >= TIMESTAMP '2024-01-16' AND event_type = 'click'
      |  UNION ALL
      |  SELECT event_type, ts FROM ev
      |  WHERE ts >= TIMESTAMP '2024-01-16' AND event_type = 'click'),
      |agg AS (
      |  SELECT event_type || ' handled in <NUM> ms' AS template,
      |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0
      |      END) AS BIGINT) AS base_n,
      |    CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0
      |      END) AS BIGINT) AS cur_n
      |  FROM corpus
      |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
      |  GROUP BY 1),
      |r AS (
      |  SELECT template, base_n, cur_n,
      |    round(base_n / 1296000.0, 6) AS base_rate,
      |    round(cur_n / 1382400.0, 6) AS cur_rate,
      |    CASE WHEN base_n > 0 THEN
      |      round((cur_n / 1382400.0) / (base_n / 1296000.0), 6)
      |    END AS ratio
      |  FROM agg)
      |SELECT template, base_n, cur_n, base_rate, cur_rate, ratio,
      |  CASE WHEN base_n = 0 THEN 'new' WHEN cur_n = 0 THEN 'gone'
      |       WHEN ratio >= 2.0 THEN 'surge' WHEN ratio <= 0.5 THEN 'drop'
      |       ELSE 'steady' END AS status
      |FROM r ORDER BY template""".stripMargin

  /** Tail-based trace sampling at the driver gate: 10-span traces
    * synthesized from events (trace = event_id/10), kept when any span
    * is an error, the trace's max value clears 195, or the portable
    * md5 uniform of the trace id falls under 10% — the OTel
    * tailsamplingprocessor policy set with its precedence. The census
    * counts sampled spans and traces per (reason, event_type); the
    * oracle replays verdicts, precedence, hash, and the span join. */
  def q112_tail_sampling(spark: SparkSession, dir: String): DataFrame = {
    val spans = Queries.cat(spark, dir)("events").df
      .select(floor(col("event_id") / 10).as("trace"),
        col("event_id"), col("event_type"), col("value"))
    graft.analysis.TailSampling.sample(spans, "trace",
        col("event_type") === "error", col("value"),
        latencyThreshold = 195.0, keepFraction = 0.1)
      .groupBy("reason", "event_type")
      .agg(count(lit(1)).as("n_spans"),
        countDistinct(col("trace")).as("n_traces"))
      .orderBy("reason", "event_type")
  }

  val q112_sql: String =
    """WITH spans AS (
      |  SELECT event_id // 10 AS trace, event_id, event_type, value
      |  FROM events),
      |v AS (
      |  SELECT trace,
      |    max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS err,
      |    max(value) AS lat
      |  FROM spans GROUP BY 1),
      |k AS (
      |  SELECT trace,
      |    CASE WHEN err = 1 THEN 'error'
      |         WHEN lat >= 195.0 THEN 'latency'
      |         WHEN CAST('0x' || substr(md5(CAST(trace AS VARCHAR)), 1, 8)
      |             AS BIGINT) / 4294967296.0 < 0.1 THEN 'prob'
      |    END AS reason
      |  FROM v)
      |SELECT k.reason, s.event_type, count(*) AS n_spans,
      |  count(DISTINCT s.trace) AS n_traces
      |FROM spans s JOIN k USING (trace)
      |WHERE k.reason IS NOT NULL
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** M4 chart downsampling at the driver gate: 400 pixel columns over
    * the full month, first/last/min/max of `value` per (event_type,
    * pixel) with (ts, event_id) tie order — the error-free line-chart
    * reduction of Jugel et al. The oracle replays the pixel arithmetic
    * and derives first/last via rank windows, independent of Spark's
    * min_by/max_by. */
  def q113_m4(spark: SparkSession, dir: String): DataFrame = {
    val e = Queries.cat(spark, dir)("events").df
    graft.analysis.Downsample.m4(e, Seq("event_type"), "ts", "value",
        "event_id", 1704067200L, 1706659200L, 400)
      .orderBy("event_type", "pixel")
  }

  val q113_sql: String =
    """WITH p AS (
      |  SELECT event_type, value, event_id,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec
      |  FROM events
      |  WHERE epoch(ts) >= 1704067200 AND epoch(ts) < 1706659200),
      |b AS (
      |  SELECT *, CAST(least(floor((tsec - 1704067200) * 400
      |    / 2592000.0), 399) AS BIGINT) AS pixel FROM p),
      |r AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY event_type, pixel
      |      ORDER BY tsec, event_id) AS rf,
      |    row_number() OVER (PARTITION BY event_type, pixel
      |      ORDER BY tsec DESC, event_id DESC) AS rl
      |  FROM b)
      |SELECT event_type, pixel, count(*) AS n,
      |  max(CASE WHEN rf = 1 THEN value END) AS first_v,
      |  max(CASE WHEN rl = 1 THEN value END) AS last_v,
      |  min(value) AS min_v, max(value) AS max_v
      |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** LTTB downsampling at the driver gate: the hourly click-count
    * series (integer x and y, so every sum/centroid/area is
    * bit-identical across engines) reduced to 50 points. The oracle is
    * a DuckDB recursive CTE replaying the greedy selection — previous
    * kept point + next-bucket centroid + max-area argument with
    * first-index tie-break — independently of the Scala kernel (which
    * PatternsSpec-style fuzz already checks against the thesis
    * pseudocode). */
  def q114_lttb(spark: SparkSession, dir: String): DataFrame = {
    val e = Queries.cat(spark, dir)("events").df
      .filter(col("event_type") === "click")
      .filter(unix_timestamp(col("ts")) >= 1704067200L &&
        unix_timestamp(col("ts")) < 1706659200L)
    val series = e
      .groupBy((floor(unix_timestamp(col("ts")) / 3600) * 3600)
        .cast("long").as("bucket"))
      .agg(count(lit(1)).cast("double").as("v"))
      .select(timestamp_seconds(col("bucket")).as("ts"), col("v"))
      .withColumn("s", lit("click"))
    graft.analysis.Downsample
      .lttb(series, Seq("s"), "ts", "v", 1704067200L, 1706659200L, 50)
      .select(col("idx").cast("long").as("idx"),
        col("t").cast("long").as("t"), col("v").cast("long").as("v"))
      .orderBy("idx")
  }

  val q114_sql: String =
    """WITH RECURSIVE
      |s AS (
      |  SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS t,
      |    count(*) AS v
      |  FROM events WHERE event_type = 'click'
      |    AND epoch(ts) >= 1704067200 AND epoch(ts) < 1706659200
      |  GROUP BY 1),
      |ord AS (
      |  SELECT t*1.0 AS x, v*1.0 AS y,
      |    row_number() OVER (ORDER BY t) - 1 AS idx
      |  FROM s),
      |nn AS (SELECT count(*) AS n FROM ord),
      |st AS (SELECT ((SELECT n FROM nn) - 2) / 48.0 AS step),
      |bk AS (
      |  SELECT i,
      |    1 + CAST(floor(i * (SELECT step FROM st)) AS BIGINT) AS lo,
      |    least(1 + CAST(floor((i+1) * (SELECT step FROM st))
      |      AS BIGINT), (SELECT n FROM nn) - 1) AS hi,
      |    CASE WHEN i = 47 THEN (SELECT n FROM nn)
      |         ELSE least(1 + CAST(floor((i+2) * (SELECT step FROM st))
      |           AS BIGINT), (SELECT n FROM nn) - 1) END AS nhi
      |  FROM generate_series(0, 47) AS g(i)),
      |cent AS (
      |  SELECT bk.i, avg(o.x) AS ax, avg(o.y) AS ay
      |  FROM bk JOIN ord o
      |    ON o.idx >= bk.hi AND o.idx < greatest(bk.nhi, bk.hi + 1)
      |  GROUP BY 1),
      |rec AS (
      |  SELECT -1 AS i,
      |    (SELECT x FROM ord WHERE idx = 0) AS px,
      |    (SELECT y FROM ord WHERE idx = 0) AS py
      |  WHERE (SELECT n FROM nn) > 50
      |  UNION ALL
      |  SELECT bk.i,
      |    first(o.x ORDER BY abs((rec.px - c.ax) * (o.y - rec.py)
      |      - (rec.px - o.x) * (c.ay - rec.py)) DESC, o.idx),
      |    first(o.y ORDER BY abs((rec.px - c.ax) * (o.y - rec.py)
      |      - (rec.px - o.x) * (c.ay - rec.py)) DESC, o.idx)
      |  FROM rec
      |  JOIN bk ON bk.i = rec.i + 1
      |  JOIN cent c ON c.i = bk.i
      |  JOIN ord o ON o.idx >= bk.lo AND o.idx < bk.hi
      |  GROUP BY bk.i, rec.px, rec.py, c.ax, c.ay)
      |SELECT CAST(i + 1 AS BIGINT) AS idx, CAST(px AS BIGINT) AS t,
      |  CAST(py AS BIGINT) AS v
      |FROM rec
      |UNION ALL
      |SELECT 49, (SELECT CAST(x AS BIGINT) FROM ord
      |            WHERE idx = (SELECT n-1 FROM nn)),
      |  (SELECT CAST(y AS BIGINT) FROM ord
      |   WHERE idx = (SELECT n-1 FROM nn))
      |WHERE (SELECT n FROM nn) > 50
      |UNION ALL
      |-- threshold >= n: the kernel passes the series through unchanged
      |SELECT idx, CAST(x AS BIGINT), CAST(y AS BIGINT) FROM ord
      |WHERE (SELECT n FROM nn) <= 50
      |ORDER BY idx""".stripMargin

  /** Log-context at the driver gate: ±2 surrounding events (stream
    * order = (floored second, event_id)) within ±10 minutes of every
    * value>300 anchor — the log-viewer "show surrounding events" query
    * through the bucketed band join. The oracle replays the band, the
    * stream order, and the position-difference offsets with plain
    * windows over an inequality join. */
  def q115_context(spark: SparkSession, dir: String): DataFrame = {
    val e = Queries.cat(spark, dir)("events").df
    val rows = e.select(col("event_id").as("rid"), col("ts").as("rts"),
      col("event_type"))
    val anchors = e.filter(col("value") > 300)
      .select(col("event_id").as("aid"), col("ts").as("ats"))
    graft.analysis.Context.around(rows, "rts", "rid", anchors, "ats",
        "aid", before = 2, after = 2, maxSpanSec = 600,
        bucketSeconds = 60)
      .select(col("aid"), col("offset").cast("long").as("offset"),
        col("rid"), col("event_type"))
      .orderBy("aid", "offset")
  }

  val q115_sql: String =
    """WITH r AS (
      |  SELECT event_id AS rid, CAST(floor(epoch(ts)) AS BIGINT) AS rt,
      |    event_type
      |  FROM events),
      |a AS (
      |  SELECT event_id AS aid, CAST(floor(epoch(ts)) AS BIGINT) AS at
      |  FROM events WHERE value > 300),
      |c AS (
      |  SELECT a.aid, a.at, r.rid, r.rt, r.event_type
      |  FROM a JOIN r ON r.rt BETWEEN a.at - 600 AND a.at + 600),
      |o AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY aid ORDER BY rt, rid) AS idx,
      |    sum(CASE WHEN rt < at OR (rt = at AND rid < aid)
      |      THEN 1 ELSE 0 END) OVER (PARTITION BY aid) AS nb,
      |    max(CASE WHEN rt = at AND rid = aid THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY aid) AS ap
      |  FROM c),
      |f AS (
      |  SELECT aid,
      |    CAST(CASE WHEN rt = at AND rid = aid THEN 0
      |         WHEN rt < at OR (rt = at AND rid < aid) THEN idx - nb - 1
      |         ELSE idx - nb - ap END AS BIGINT) AS "offset",
      |    rid, event_type
      |  FROM o)
      |SELECT * FROM f WHERE "offset" BETWEEN -2 AND 2
      |ORDER BY aid, "offset"""".stripMargin

  /** Recording-rule fleet at the driver gate: three rules with
    * different predicates, groups, and steps — hourly error counts,
    * daily high-value sums by type, 6-hourly clicks by user cohort —
    * evaluated in ONE scan + ONE shuffle; the oracle evaluates each
    * rule independently and unions them, so the tagged-union fan-out
    * is value-checked against the straightforward per-rule plan. */
  def q117_recording_rules(spark: SparkSession, dir: String): DataFrame = {
    val e = Queries.cat(spark, dir)("events").df
    import graft.analysis.RecordingRules.Rule
    graft.analysis.RecordingRules.evaluate(e, "ts", Seq(
        Rule("errors_hourly", col("event_type") === "error",
          lit("all"), lit(1.0), 3600),
        Rule("hivalue_daily", col("value") > 100,
          col("event_type"), col("value"), 86400),
        Rule("clicks_cohort", col("event_type") === "click",
          col("user_id") % 5, lit(1.0), 21600)))
      .withColumn("sum_v", round(col("sum_v"), 2))
      .orderBy("rule", "bucket", "grp")
  }

  val q117_sql: String =
    """SELECT 'errors_hourly' AS rule,
      |  CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS bucket,
      |  'all' AS grp, count(*) AS n, round(count(*) * 1.0, 2) AS sum_v
      |FROM events WHERE event_type = 'error' GROUP BY 2
      |UNION ALL
      |SELECT 'hivalue_daily',
      |  CAST(floor(epoch(ts)/86400)*86400 AS BIGINT),
      |  event_type, count(*), round(sum(value), 2)
      |FROM events WHERE value > 100 GROUP BY 2, 3
      |UNION ALL
      |SELECT 'clicks_cohort',
      |  CAST(floor(epoch(ts)/21600)*21600 AS BIGINT),
      |  CAST(user_id % 5 AS VARCHAR), count(*),
      |  round(count(*) * 1.0, 2)
      |FROM events WHERE event_type = 'click' GROUP BY 2, 3
      |ORDER BY rule, bucket, grp""".stripMargin

  /** Seasonal-profile anomaly detection: hourly event counts per type
    * z-scored against the (type, hour-of-day) profile over the
    * gap-filled spine. Counts are exact integers and the moments are
    * explicit (n, Σx, Σx²) expressions, so every mean/z is replayed
    * bit-identically by the oracle. */
  def q123_seasonal(spark: SparkSession, dir: String): DataFrame = {
    val events = Queries.cat(spark, dir)("events").df
    graft.analysis.Seasonal.hourOfDayAnomalies(
      events, "ts", Seq("event_type"))
      .withColumn("mean", round(col("mean"), 6))
      .withColumn("z", round(col("z"), 6))
      .orderBy("event_type", "bucket")
  }

  val q123_sql: String =
    """WITH c AS (
      |  SELECT event_type,
      |    CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS bucket,
      |    count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM c),
      |sp AS (SELECT unnest(generate_series(lo, hi,
      |         CAST(3600 AS BIGINT))) AS bucket FROM b),
      |k AS (SELECT DISTINCT event_type FROM events),
      |dense AS (
      |  SELECT k.event_type, sp.bucket, COALESCE(c.cnt, 0) AS cnt,
      |    CAST(floor((((sp.bucket % 86400) + 86400) % 86400) / 3600)
      |      AS INT) AS hod
      |  FROM k CROSS JOIN sp
      |  LEFT JOIN c ON c.event_type = k.event_type
      |            AND c.bucket = sp.bucket),
      |pr AS (
      |  SELECT event_type, hod, count(*) AS n, sum(cnt) AS s,
      |    sum(cnt*cnt) AS ss
      |  FROM dense GROUP BY 1, 2),
      |j AS (
      |  SELECT d.event_type, d.bucket, d.hod, d.cnt,
      |    CAST(s AS DOUBLE)/n AS mean,
      |    CASE WHEN n > 1 AND
      |      (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/n)
      |        /(n-1) > 0
      |    THEN (CAST(d.cnt AS DOUBLE) - CAST(s AS DOUBLE)/n)
      |      / sqrt((CAST(ss AS DOUBLE)
      |              - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/n)/(n-1))
      |    END AS z
      |  FROM dense d JOIN pr
      |    ON pr.event_type = d.event_type AND pr.hod = d.hod)
      |SELECT event_type, bucket, hod, cnt, round(mean, 6) AS mean,
      |  round(z, 6) AS z,
      |  CASE WHEN z IS NOT NULL THEN abs(z) >= 3.0 END AS anomaly
      |FROM j ORDER BY event_type, bucket""".stripMargin

  /** EWMA control-chart gate ([[graft.analysis.ChangePoint.ewmaChart]]):
    * the same hourly per-type gauge sums as q108, smoothed at λ = 0.5
    * with pinned target 150 / σ 50 / L = 3. λ = 0.5 keeps every
    * recursion coefficient AND the warm-up term (1−λ)^{2t} = 2^{−2t}
    * an exact power of two, so the Spark fold and the DuckDB recursive
    * CTE walk bit-identical doubles — inputs round to 4 decimals first
    * (the q108 convention), outputs round after the math. */
  def q127_ewma(spark: SparkSession, dir: String): DataFrame = {
    val ev = Queries.cat(spark, dir)("events").df
    val x = ev
      .groupBy((floor(unix_timestamp(col("ts")) / 3600L) * 3600L)
        .cast("long").as("bucket"),
        col("event_type"), col("user_id"))
      .agg(max_by(col("value"), col("ts")).as("v"))
      .groupBy("bucket", "event_type")
      .agg(round(sum(col("v")), 4).as("x"))
    graft.analysis.ChangePoint.ewmaChart(x, Seq("event_type"), "bucket",
        "x", lambda = 0.5, width = 3.0,
        target = Some(150.0), sigma = Some(50.0))
      .select(col("bucket"), col("event_type"), col("x"),
        round(col("z"), 4).as("z"), round(col("ucl"), 4).as("ucl"),
        round(col("lcl"), 4).as("lcl"), col("alarm"))
      .orderBy("event_type", "bucket")
  }

  val q127_sql: String =
    """WITH RECURSIVE pts AS (
      |  SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS bucket,
      |         event_type, user_id, value, ts
      |  FROM events),
      |last AS (
      |  SELECT bucket, event_type, user_id, arg_max(value, ts) AS v
      |  FROM pts GROUP BY bucket, event_type, user_id),
      |s AS (
      |  SELECT bucket, event_type, round(sum(v), 4) AS x
      |  FROM last GROUP BY bucket, event_type),
      |ord AS (
      |  SELECT bucket, event_type, x,
      |    row_number() OVER (PARTITION BY event_type ORDER BY bucket)
      |      AS rn
      |  FROM s),
      |rec AS (
      |  SELECT event_type, rn, bucket, x,
      |    0.5 * x + 0.5 * 150.0 AS z
      |  FROM ord WHERE rn = 1
      |  UNION ALL
      |  SELECT o.event_type, o.rn, o.bucket, o.x,
      |    0.5 * o.x + 0.5 * r.z
      |  FROM ord o JOIN rec r
      |    ON o.event_type = r.event_type AND o.rn = r.rn + 1),
      |lim AS (
      |  SELECT event_type, rn, bucket, x, z,
      |    3.0 * 50.0 * sqrt((0.5/1.5) *
      |      (1.0 - pow(0.5, CAST(rn AS DOUBLE) * 2))) AS hw
      |  FROM rec)
      |SELECT bucket, event_type, x, round(z, 4) AS z,
      |  round(150.0 + hw, 4) AS ucl, round(150.0 - hw, 4) AS lcl,
      |  CAST(CASE WHEN z > 150.0 + hw OR z < 150.0 - hw
      |       THEN 1 ELSE 0 END AS BIGINT) AS alarm
      |FROM lim ORDER BY event_type, bucket""".stripMargin

  /** Holt linear-trend smoothing gate
    * ([[graft.analysis.Forecast.holtLinear]]): hourly per-type event
    * counts smoothed at α = β = 0.5 (every recursion coefficient an
    * exact power of two, the q127 bit-parity argument), causal seed
    * l₁ = x₁ / b₁ = 0, 3-step-ahead projection; outputs round 4dp
    * AFTER the recursion, inputs are exact integer counts. */
  def q134_holt(spark: SparkSession, dir: String): DataFrame = {
    val ev = Queries.cat(spark, dir)("events").df
    val x = ev
      .groupBy((floor(unix_timestamp(col("ts")) / 3600L) * 3600L)
        .cast("long").as("bucket"), col("event_type"))
      .agg(count(lit(1)).cast("double").as("x"))
    graft.analysis.Forecast.holtLinear(x, Seq("event_type"), "bucket",
        "x", alpha = 0.5, beta = 0.5, horizon = 3)
      .select(col("event_type"), col("bucket"), col("x"),
        round(col("level"), 4).as("level"),
        round(col("trend"), 4).as("trend"),
        round(col("fitted"), 4).as("fitted"),
        round(col("forecast_h"), 4).as("forecast_h"))
      .orderBy("event_type", "bucket")
  }

  val q134_sql: String =
    """WITH RECURSIVE c AS (
      |  SELECT event_type,
      |    CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS bucket,
      |    CAST(count(*) AS DOUBLE) AS x
      |  FROM events GROUP BY 1, 2),
      |ord AS (
      |  SELECT event_type, bucket, x,
      |    row_number() OVER (PARTITION BY event_type ORDER BY bucket)
      |      AS rn
      |  FROM c),
      |rec AS (
      |  SELECT event_type, rn, bucket, x, x AS l,
      |    CAST(0 AS DOUBLE) AS b, CAST(NULL AS DOUBLE) AS fitted
      |  FROM ord WHERE rn = 1
      |  UNION ALL
      |  SELECT o.event_type, o.rn, o.bucket, o.x,
      |    0.5 * o.x + 0.5 * (r.l + r.b) AS l,
      |    0.5 * ((0.5 * o.x + 0.5 * (r.l + r.b)) - r.l) + 0.5 * r.b
      |      AS b,
      |    r.l + r.b AS fitted
      |  FROM ord o JOIN rec r
      |    ON o.event_type = r.event_type AND o.rn = r.rn + 1)
      |SELECT event_type, bucket, x, round(l, 4) AS level,
      |  round(b, 4) AS trend, round(fitted, 4) AS fitted,
      |  round(l + 3.0 * b, 4) AS forecast_h
      |FROM rec ORDER BY event_type, bucket""".stripMargin

  /** Categorical drift gate ([[graft.analysis.Drift.categoricalDrift]]):
    * event-type mix of the first 15 days (epoch < 1705363200 =
    * 2024-01-16T00:00:00Z, spelled in epoch seconds to keep both
    * engines timezone-free) against the rest — smoothed proportions,
    * per-category KL and chi-square contributions, 6dp. */
  def q135_drift(spark: SparkSession, dir: String): DataFrame = {
    val ev = Queries.cat(spark, dir)("events").df
    val cut = 1705363200L
    val ref = ev.filter(unix_timestamp(col("ts")) < cut)
    val cur = ev.filter(unix_timestamp(col("ts")) >= cut)
    graft.analysis.Drift.categoricalDrift(ref, cur, "event_type")
      .orderBy("event_type")
  }

  val q135_sql: String =
    """WITH r AS (
      |  SELECT event_type, count(*) AS n_ref FROM events
      |  WHERE epoch(ts) < 1705363200 GROUP BY 1),
      |c AS (
      |  SELECT event_type, count(*) AS n_cur FROM events
      |  WHERE epoch(ts) >= 1705363200 GROUP BY 1),
      |j AS (
      |  SELECT coalesce(r.event_type, c.event_type) AS event_type,
      |    coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
      |  FROM r FULL OUTER JOIN c ON r.event_type = c.event_type),
      |t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc,
      |        count(*) AS k FROM j),
      |s AS (
      |  SELECT event_type, n_ref, n_cur,
      |    (n_ref + 0.5) / (tr + 0.5 * k) AS pr,
      |    (n_cur + 0.5) / (tc + 0.5 * k) AS pc,
      |    tc, tr, k
      |  FROM j, t)
      |SELECT event_type, n_ref, n_cur,
      |  round(pr, 6) AS p_ref, round(pc, 6) AS p_cur,
      |  round(pc * ln(pc / pr), 6) AS kl_term,
      |  round(pow(n_cur - tc * pr, 2) / (tc * pr), 6) AS chi2_term
      |FROM s ORDER BY event_type""".stripMargin

  /** Spearman correlation gate
    * ([[graft.analysis.Correlation.spearmanPairs]]): hourly per-type
    * event counts DENSIFIED to the full (type × hour) spine (missing
    * hours count 0) so every series ranks over the identical bucket
    * set — the condition under which the d² formula is exact. Ranks
    * are integers-or-halves, Σd² dyadic → the only float division is
    * the final ρ, rounded 6dp identically in both engines. */
  def q136_spearman(spark: SparkSession, dir: String): DataFrame = {
    val ev = Queries.cat(spark, dir)("events").df
    val c = ev.groupBy(
        (floor(unix_timestamp(col("ts")) / 3600L) * 3600L)
          .cast("long").as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val spine = c.select(col("bucket")).distinct()
    val keys = c.select(col("event_type")).distinct()
    val dense = keys.crossJoin(spine)
      .join(c, Seq("event_type", "bucket"), "left")
      .select(col("event_type"), col("bucket"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
    graft.analysis.Correlation.spearmanPairs(dense, "event_type",
        "bucket", "cnt")
      .orderBy("key_a", "key_b")
  }

  val q136_sql: String =
    """WITH c AS (
      |  SELECT event_type,
      |    CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS bucket,
      |    count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |sp AS (SELECT DISTINCT bucket FROM c),
      |k AS (SELECT DISTINCT event_type FROM c),
      |dense AS (
      |  SELECT k.event_type, sp.bucket, COALESCE(c.cnt, 0) AS cnt
      |  FROM k CROSS JOIN sp
      |  LEFT JOIN c ON c.event_type = k.event_type
      |            AND c.bucket = sp.bucket),
      |rn AS (
      |  SELECT event_type, bucket, CAST(cnt AS DOUBLE) AS v,
      |    row_number() OVER (PARTITION BY event_type
      |                       ORDER BY CAST(cnt AS DOUBLE), bucket)
      |      AS rn
      |  FROM dense),
      |rk AS (
      |  SELECT event_type, bucket,
      |    avg(rn) OVER (PARTITION BY event_type, v) AS r
      |  FROM rn),
      |tied AS (
      |  SELECT event_type, (min(r) = max(r)) AS td
      |  FROM rk GROUP BY 1),
      |p AS (
      |  SELECT a.event_type AS key_a, b.event_type AS key_b,
      |    count(*) AS n, sum(pow(a.r - b.r, 2)) AS d2
      |  FROM rk a JOIN rk b ON a.bucket = b.bucket
      |  WHERE a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT p.key_a, p.key_b, p.n,
      |  CASE WHEN p.n >= 2 AND NOT ta.td AND NOT tb.td THEN
      |    round(1.0 - 6.0 * p.d2 / (p.n * (p.n * p.n - 1.0)), 6)
      |  END AS rho
      |FROM p JOIN tied ta ON ta.event_type = p.key_a
      |       JOIN tied tb ON tb.event_type = p.key_b
      |ORDER BY p.key_a, p.key_b""".stripMargin

  /** Hampel/MAD outlier gate ([[graft.analysis.Robust.madOutliers]]):
    * hourly per-type event counts, k = 3.5. Medians (and the MAD) are
    * order-independent — the float-parity-safe statistic — so the
    * only rounded float is the final robust z. */
  def q137_mad(spark: SparkSession, dir: String): DataFrame = {
    val ev = Queries.cat(spark, dir)("events").df
    val x = ev.groupBy(
        (floor(unix_timestamp(col("ts")) / 3600L) * 3600L)
          .cast("long").as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    graft.analysis.Robust.madOutliers(x, Seq("event_type"), "bucket",
        "cnt", k = 3.5)
      .orderBy("event_type", "bucket")
  }

  val q137_sql: String =
    """WITH c AS (
      |  SELECT event_type,
      |    CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS bucket,
      |    CAST(count(*) AS DOUBLE) AS x
      |  FROM events GROUP BY 1, 2),
      |m AS (SELECT event_type, median(x) AS med FROM c GROUP BY 1),
      |d AS (
      |  SELECT c.event_type, c.bucket, c.x, m.med
      |  FROM c JOIN m ON m.event_type = c.event_type),
      |md AS (
      |  SELECT event_type, median(abs(x - med)) AS mad
      |  FROM d GROUP BY 1)
      |SELECT d.event_type, d.bucket, d.x AS cnt, d.med, md.mad,
      |  CASE WHEN md.mad > 0.0 THEN
      |    round(0.6745 * (d.x - d.med) / md.mad, 6) END AS robust_z,
      |  CASE WHEN md.mad > 0.0 THEN
      |    CAST(CASE WHEN abs(0.6745 * (d.x - d.med) / md.mad) > 3.5
      |         THEN 1 ELSE 0 END AS BIGINT) END AS outlier
      |FROM d JOIN md ON md.event_type = d.event_type
      |ORDER BY d.event_type, d.bucket""".stripMargin

  /** Two-sample KS numeric drift ([[graft.analysis.Drift.ksDrift]]):
    * per event_type, the value distribution before vs on/after
    * 2024-01-16, values quantized to 0.1 grid first (the operator's
    * documented contract — the ECDF window is per-key over distinct
    * values). Quantization is floor(v·10)/10, NOT round(v, 1): Spark
    * rounds through a decimal string (HALF_UP) while DuckDB rounds the
    * binary double, and a halfway value like 1.15 lands in DIFFERENT
    * cells — floor arithmetic is the same IEEE ops on both engines.
    * Exact D over pooled steps; the only other floats are ECDF ratios
    * of exact longs. */
  def q145_ks_drift(spark: SparkSession, dir: String): DataFrame = {
    val ev = Queries.cat(spark, dir)("events").df
      .withColumn("v1", floor(col("value") * 10) / 10)
    val ref = ev.filter(col("ts") < lit("2024-01-16").cast("timestamp"))
    val cur = ev.filter(col("ts") >= lit("2024-01-16").cast("timestamp"))
    graft.analysis.Drift.ksDrift(ref, cur, Seq("event_type"), "v1")
      .orderBy("event_type")
  }

  val q145_sql: String =
    """WITH r AS (
      |  SELECT event_type AS k, floor(value * 10) / 10 AS v
      |  FROM events
      |  WHERE ts < TIMESTAMP '2024-01-16' AND value IS NOT NULL),
      |c AS (
      |  SELECT event_type AS k, floor(value * 10) / 10 AS v
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-16' AND value IS NOT NULL),
      |rc AS (SELECT k, v, count(*) AS r FROM r GROUP BY 1, 2),
      |cc AS (SELECT k, v, count(*) AS c FROM c GROUP BY 1, 2),
      |j AS (
      |  SELECT coalesce(rc.k, cc.k) AS k, coalesce(rc.v, cc.v) AS v,
      |    coalesce(rc.r, 0) AS r, coalesce(cc.c, 0) AS c
      |  FROM rc FULL OUTER JOIN cc ON rc.k = cc.k AND rc.v = cc.v),
      |s AS (
      |  SELECT k, v, r, c,
      |    sum(r) OVER (PARTITION BY k ORDER BY v
      |      ROWS UNBOUNDED PRECEDING) AS cr,
      |    sum(c) OVER (PARTITION BY k ORDER BY v
      |      ROWS UNBOUNDED PRECEDING) AS cc2,
      |    sum(r) OVER (PARTITION BY k) AS tr,
      |    sum(c) OVER (PARTITION BY k) AS tc
      |  FROM j),
      |g AS (
      |  SELECT k, CAST(max(tr) AS BIGINT) AS n_ref,
      |    CAST(max(tc) AS BIGINT) AS n_cur,
      |    max(CASE WHEN tr > 0 AND tc > 0 THEN
      |      abs(CAST(cr AS DOUBLE) / tr - CAST(cc2 AS DOUBLE) / tc)
      |    END) AS d
      |  FROM s GROUP BY k)
      |SELECT k AS event_type, n_ref, n_cur,
      |  CASE WHEN n_ref > 0 AND n_cur > 0 THEN round(d, 6) END
      |    AS d_stat,
      |  CASE WHEN n_ref > 0 AND n_cur > 0 THEN
      |    round(1.358 * sqrt(CAST(n_ref + n_cur AS DOUBLE)
      |      / (CAST(n_ref AS DOUBLE) * n_cur)), 6) END AS d_crit,
      |  CASE WHEN n_ref > 0 AND n_cur > 0 THEN
      |    CAST(CASE WHEN round(d, 6) >
      |      round(1.358 * sqrt(CAST(n_ref + n_cur AS DOUBLE)
      |        / (CAST(n_ref AS DOUBLE) * n_cur)), 6)
      |    THEN 1 ELSE 0 END AS BIGINT) END AS drifted
      |FROM g ORDER BY event_type""".stripMargin

  /** PSI numeric drift ([[graft.analysis.Drift.psiDrift]]): per-bin
    * PSI terms for the same before/after split, 10 equal-width bins
    * from the reference range. Per-bin term rows, never a cross-row
    * float sum — the categoricalDrift bit-stability convention. */
  def q146_psi_drift(spark: SparkSession, dir: String): DataFrame = {
    val ev = Queries.cat(spark, dir)("events").df
    val ref = ev.filter(col("ts") < lit("2024-01-16").cast("timestamp"))
    val cur = ev.filter(col("ts") >= lit("2024-01-16").cast("timestamp"))
    graft.analysis.Drift.psiDrift(ref, cur, Seq("event_type"), "value",
        bins = 10)
      .orderBy("event_type", "bin")
  }

  val q146_sql: String =
    """WITH r AS (
      |  SELECT event_type AS k, value AS v FROM events
      |  WHERE ts < TIMESTAMP '2024-01-16' AND value IS NOT NULL),
      |c AS (
      |  SELECT event_type AS k, value AS v FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-16' AND value IS NOT NULL),
      |rng AS (SELECT k, min(v) AS lo, max(v) AS hi FROM r GROUP BY 1),
      |rb AS (
      |  SELECT r.k,
      |    CASE WHEN rng.hi > rng.lo THEN
      |      CAST(least(9, greatest(0, floor((r.v - rng.lo) * 10
      |        / (rng.hi - rng.lo)))) AS INT)
      |    ELSE 0 END AS bin, count(*) AS nr
      |  FROM r JOIN rng ON rng.k = r.k GROUP BY 1, 2),
      |cb AS (
      |  SELECT c.k,
      |    CASE WHEN rng.lo IS NULL THEN NULL
      |      WHEN rng.hi > rng.lo THEN
      |      CAST(least(9, greatest(0, floor((c.v - rng.lo) * 10
      |        / (rng.hi - rng.lo)))) AS INT)
      |    ELSE 0 END AS bin, count(*) AS nc
      |  FROM c LEFT JOIN rng ON rng.k = c.k GROUP BY 1, 2),
      |j AS (
      |  SELECT coalesce(rb.k, cb.k) AS k,
      |    coalesce(rb.bin, cb.bin) AS bin,
      |    coalesce(rb.nr, 0) AS n_ref, coalesce(cb.nc, 0) AS n_cur
      |  FROM rb FULL OUTER JOIN cb
      |    ON rb.k = cb.k AND rb.bin = cb.bin),
      |t AS (
      |  SELECT k, bin, n_ref, n_cur,
      |    CASE WHEN bin IS NOT NULL THEN
      |      (n_ref + 0.5) / (sum(n_ref) OVER (PARTITION BY k) + 5.0)
      |      END AS p,
      |    CASE WHEN bin IS NOT NULL THEN
      |      (n_cur + 0.5) / (sum(n_cur) OVER (PARTITION BY k) + 5.0)
      |      END AS q
      |  FROM j)
      |SELECT k AS event_type, bin, CAST(n_ref AS BIGINT) AS n_ref,
      |  CAST(n_cur AS BIGINT) AS n_cur,
      |  round(p, 6) AS p_ref, round(q, 6) AS p_cur,
      |  round((q - p) * ln(q / p), 6) AS psi_term
      |FROM t ORDER BY event_type, bin""".stripMargin

  /** Cross-domain quantile normalization ([[graft.analysis.Normalize
    * .quantileNormalize]]): per event_type, integer-quantized values
    * map through within-group midrank fractions onto the global value
    * ladder (percentile_disc — always an observed value, never an
    * interpolation, so the only floats are divisions of exact longs
    * both engines replay identically). */
  def q154_quantile_norm(spark: SparkSession, dir: String)
      : DataFrame = {
    val ev = Queries.cat(spark, dir)("events").df
      .withColumn("vq", floor(col("value")))
    graft.analysis.Normalize.quantileNormalize(
        ev, Seq("event_type"), "vq")
      .orderBy("event_type", "v")
  }

  val q154_sql: String =
    """WITH src AS (
      |  SELECT event_type AS k, floor(value) AS v FROM events
      |  WHERE value IS NOT NULL),
      |cells AS (SELECT k, v, count(*) AS n FROM src GROUP BY 1, 2),
      |rk AS (
      |  SELECT k, v, n,
      |    sum(n) OVER (PARTITION BY k ORDER BY v
      |      ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(n) OVER (PARTITION BY k) AS tot
      |  FROM cells),
      |r AS (SELECT k, v, n, (cum - n / 2.0) / tot AS r FROM rk),
      |g AS (SELECT v AS gv, count(*) AS gn FROM src GROUP BY 1),
      |gl AS (
      |  SELECT gv,
      |    CAST(sum(gn) OVER (ORDER BY gv ROWS UNBOUNDED PRECEDING)
      |      AS DOUBLE) / (SELECT count(*) FROM src) AS gfrac
      |  FROM g),
      |m AS (
      |  SELECT r.k, r.v, r.n, r.r, min(gl.gv) AS qnorm
      |  FROM r JOIN gl ON gl.gfrac >= r.r GROUP BY 1, 2, 3, 4)
      |SELECT k AS event_type, v, CAST(n AS BIGINT) AS n,
      |  round(r, 6) AS r, qnorm
      |FROM m ORDER BY event_type, v""".stripMargin

  /** Markov transition matrix ([[graft.analysis.Transitions.matrix]]):
    * per-user event sequences ordered by (ts, event_id) yield the
    * (from, to) count/probability table — probabilities are one
    * division of exact longs, bit-stable everywhere. */
  def q157_transitions(spark: SparkSession, dir: String): DataFrame = {
    val ev = Queries.cat(spark, dir)("events").df
    graft.analysis.Transitions.matrix(ev, "user_id", "ts", "event_id",
        "event_type")
      .orderBy("from_state", "to_state")
  }

  val q157_sql: String =
    """WITH s AS (
      |  SELECT user_id, event_type,
      |    lead(event_type) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      |  FROM events WHERE event_type IS NOT NULL),
      |c AS (
      |  SELECT event_type AS from_state, nxt AS to_state,
      |    count(*) AS n
      |  FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2)
      |SELECT from_state, to_state, CAST(n AS BIGINT) AS n,
      |  round(CAST(n AS DOUBLE)
      |    / sum(n) OVER (PARTITION BY from_state), 6) AS p
      |FROM c ORDER BY from_state, to_state""".stripMargin

  /** Classifier calibration ([[graft.analysis.Calibration
    * .reliabilityBins]]): synthesized (score, label) pairs with scores
    * on the /128 grid, so every per-bin sum is an EXACT binary
    * rational — means and ECE terms are deterministic divisions, the
    * float-parity rule for means that ordinary scores would break. */
  def q167_calibration(spark: SparkSession, dir: String): DataFrame = {
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        ((col("doc_id") % 129).cast("double") / 128.0).as("score"),
        when((col("doc_id") * 37) % 128 < col("doc_id") % 129, 1L)
          .otherwise(0L).as("label"))
    graft.analysis.Calibration.reliabilityBins(d, "score", "label",
        bins = 8)
      .orderBy("bin")
  }

  val q167_sql: String =
    """WITH s AS (
      |  SELECT doc_id,
      |    CAST(doc_id % 129 AS DOUBLE) / 128.0 AS score,
      |    CASE WHEN (doc_id * 37) % 128 < doc_id % 129
      |      THEN 1 ELSE 0 END AS y
      |  FROM documents),
      |b AS (
      |  SELECT least(CAST(floor(score * 8) AS INT), 7) AS bin,
      |    count(*) AS n, sum(score) AS ssum, sum(y) AS ypos
      |  FROM s GROUP BY 1),
      |t AS (SELECT sum(n) AS tt FROM b)
      |SELECT bin, round(CAST(bin AS DOUBLE) / 8, 6) AS lo,
      |  round(CAST(bin + 1 AS DOUBLE) / 8, 6) AS hi,
      |  CAST(n AS BIGINT) AS n,
      |  round(ssum / n, 6) AS mean_conf,
      |  round(CAST(ypos AS DOUBLE) / n, 6) AS frac_pos,
      |  round(abs(CAST(ypos AS DOUBLE) / n - ssum / n), 6) AS gap,
      |  round(CAST(n AS DOUBLE) / tt
      |    * abs(CAST(ypos AS DOUBLE) / n - ssum / n), 6) AS ece_term
      |FROM b CROSS JOIN t ORDER BY bin""".stripMargin

  /** Threshold sweep ([[graft.analysis.Calibration.prCurve]]): the
    * precision/recall/F1 curve over the q167 synthesized scores —
    * thresholds on the bucket grid so "score ≥ k/bins" is exactly
    * "bucket ≥ k"; F1 = 2tp/(2tp+fp+fn) keeps every gated value one
    * division of exact longs. */
  def q183_pr_curve(spark: SparkSession, dir: String): DataFrame = {
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        ((col("doc_id") % 129).cast("double") / 128.0).as("score"),
        when((col("doc_id") * 37) % 128 < col("doc_id") % 129, 1L)
          .otherwise(0L).as("label"))
    graft.analysis.Calibration.prCurve(d, "score", "label", bins = 16)
  }

  val q183_sql: String =
    """WITH s AS (
      |  SELECT doc_id,
      |    CAST(doc_id % 129 AS DOUBLE) / 128.0 AS score,
      |    CASE WHEN (doc_id * 37) % 128 < doc_id % 129
      |      THEN 1 ELSE 0 END AS y
      |  FROM documents),
      |b AS (
      |  SELECT least(CAST(floor(score * 16) AS INT), 15) AS b,
      |    count(*) AS n, sum(y) AS pos
      |  FROM s GROUP BY 1),
      |t AS (SELECT coalesce(sum(pos), 0) AS p FROM b),
      |ks AS (SELECT unnest(generate_series(0, 15)) AS k),
      |agg AS (
      |  SELECT k,
      |    coalesce(sum(CASE WHEN b >= k THEN pos END), 0) AS tp,
      |    coalesce(sum(CASE WHEN b >= k THEN n - pos END), 0) AS fp
      |  FROM ks CROSS JOIN b GROUP BY 1)
      |SELECT round(CAST(k AS DOUBLE) / 16, 6) AS threshold,
      |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
      |  CAST(p - tp AS BIGINT) AS fn,
      |  CASE WHEN tp + fp > 0
      |    THEN round(CAST(tp AS DOUBLE) / (tp + fp), 6) END
      |    AS precision,
      |  CASE WHEN p > 0
      |    THEN round(CAST(tp AS DOUBLE) / p, 6) END AS recall,
      |  CASE WHEN tp + fp + p > 0
      |    THEN round(2.0 * tp / CAST(tp + fp + p AS DOUBLE), 6) END
      |    AS f1
      |FROM agg CROSS JOIN t ORDER BY threshold""".stripMargin

  /** Exact ROC AUC ([[graft.analysis.Calibration.auc]]): Mann–Whitney
    * midranks doubled to stay integral — every aggregate an exact
    * long, one final IEEE division, over the /128-grid synthesized
    * scores. */
  def q184_auc(spark: SparkSession, dir: String): DataFrame = {
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        ((col("doc_id") % 129).cast("double") / 128.0).as("score"),
        when((col("doc_id") * 37) % 128 < col("doc_id") % 129, 1L)
          .otherwise(0L).as("label"))
    graft.analysis.Calibration.auc(d, "score", "label")
  }

  val q184_sql: String =
    """WITH s AS (
      |  SELECT CAST(doc_id % 129 AS DOUBLE) / 128.0 AS score,
      |    CASE WHEN (doc_id * 37) % 128 < doc_id % 129
      |      THEN 1 ELSE 0 END AS y
      |  FROM documents),
      |b AS (
      |  SELECT score, count(*) AS n, sum(y) AS pos
      |  FROM s GROUP BY 1),
      |o AS (
      |  SELECT score, n, pos,
      |    sum(n) OVER (ORDER BY score
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM b),
      |a AS (
      |  SELECT sum(pos * (2 * (cum - n) + n + 1)) AS sum2,
      |    coalesce(sum(pos), 0) AS p,
      |    coalesce(sum(n - pos), 0) AS nn
      |  FROM o)
      |SELECT CAST(p AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
      |  CASE WHEN p > 0 AND nn > 0 THEN
      |    round((CAST(sum2 AS DOUBLE) - CAST(p AS DOUBLE) * (p + 1))
      |      / (2.0 * p * nn), 6) END AS auc
      |FROM a""".stripMargin

  /** Brier score ([[graft.analysis.Calibration.brier]]): proper-rule
    * mean squared error over (score, label) cells — on the /128 grid
    * every cell term is an exact binary rational. */
  def q187_brier(spark: SparkSession, dir: String): DataFrame = {
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(
        ((col("doc_id") % 129).cast("double") / 128.0).as("score"),
        when((col("doc_id") * 37) % 128 < col("doc_id") % 129, 1L)
          .otherwise(0L).as("label"))
    graft.analysis.Calibration.brier(d, "score", "label")
  }

  val q187_sql: String =
    """WITH s AS (
      |  SELECT CAST(doc_id % 129 AS DOUBLE) / 128.0 AS score,
      |    CASE WHEN (doc_id * 37) % 128 < doc_id % 129
      |      THEN 1 ELSE 0 END AS y
      |  FROM documents),
      |b AS (
      |  SELECT score, count(*) AS n, sum(y) AS pos
      |  FROM s GROUP BY 1),
      |a AS (
      |  SELECT coalesce(sum(n), 0) AS n,
      |    sum(pos * (1.0 - score) * (1.0 - score)
      |      + (n - pos) * score * score) AS sse
      |  FROM b)
      |SELECT CAST(n AS BIGINT) AS n,
      |  CASE WHEN n > 0 THEN round(sse / n, 6) END AS brier
      |FROM a""".stripMargin

  /** Mixture concentration ([[graft.analysis.Concentration.gini]]):
    * per language the Gini coefficient and top share over source doc
    * counts — integer arithmetic until one final expression of exact
    * longs. */
  def q168_gini(spark: SparkSession, dir: String): DataFrame =
    graft.analysis.Concentration.gini(
        spark.read.parquet(s"$dir/documents.parquet"),
        Seq("lang"), "source")
      .orderBy("lang")

  val q168_sql: String =
    """WITH c AS (
      |  SELECT lang, source AS g, count(*) AS x
      |  FROM documents GROUP BY 1, 2),
      |r AS (
      |  SELECT lang, x,
      |    row_number() OVER (PARTITION BY lang ORDER BY x, g) AS i
      |  FROM c),
      |a AS (
      |  SELECT lang, count(*) AS n_groups, sum(x) AS total,
      |    max(x) AS mx, sum(i * x) AS iwx
      |  FROM r GROUP BY 1)
      |SELECT lang, CAST(n_groups AS BIGINT) AS n_groups,
      |  CAST(total AS BIGINT) AS total,
      |  round(CAST(mx AS DOUBLE) / total, 6) AS top_share,
      |  round(2.0 * iwx / CAST(n_groups * total AS DOUBLE)
      |    - CAST(n_groups + 1 AS DOUBLE) / n_groups, 6) AS gini
      |FROM a ORDER BY lang""".stripMargin

  /** Per-language winsorization of document lengths
    * ([[graft.analysis.Robust.winsorize]]): clamp bounds are
    * percentile_disc observed values (the q154 ladder rule — zero
    * interpolation, engine-portable). */
  def q169_winsorize(spark: SparkSession, dir: String): DataFrame =
    graft.analysis.Robust.winsorize(
        spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("lang"), col("n_chars")),
        Seq("lang"), "n_chars", pLo = 0.1, pHi = 0.9)
      .orderBy("lang", "v")

  val q169_sql: String =
    """WITH cells AS (
      |  SELECT lang, CAST(n_chars AS DOUBLE) AS cv, count(*) AS cn
      |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
      |lad AS (
      |  SELECT lang, cv,
      |    CAST(sum(cn) OVER (PARTITION BY lang ORDER BY cv
      |      ROWS UNBOUNDED PRECEDING) AS DOUBLE)
      |      / sum(cn) OVER (PARTITION BY lang) AS frac
      |  FROM cells),
      |lo AS (SELECT lang, min(cv) AS lo FROM lad
      |  WHERE frac >= 0.1 GROUP BY 1),
      |hi AS (SELECT lang, min(cv) AS hi FROM lad
      |  WHERE frac >= 0.9 GROUP BY 1)
      |SELECT d.lang, CAST(d.n_chars AS DOUBLE) AS v, lo.lo, hi.hi,
      |  greatest(lo.lo, least(hi.hi, CAST(d.n_chars AS DOUBLE)))
      |    AS v_wins
      |FROM documents d JOIN lo ON lo.lang = d.lang
      |  JOIN hi ON hi.lang = d.lang
      |WHERE d.n_chars IS NOT NULL
      |ORDER BY d.lang, v""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q123_seasonal" -> (q123_seasonal _),
    "q127_ewma" -> (q127_ewma _),
    "q134_holt" -> (q134_holt _),
    "q135_drift" -> (q135_drift _),
    "q136_spearman" -> (q136_spearman _),
    "q137_mad" -> (q137_mad _),
    "q104_critical_path" -> (q104_critical_path _),
    "q105_burn_rate" -> (q105_burn_rate _),
    "q106_sequence_match" -> (q106_sequence_match _),
    "q108_cusum" -> (q108_cusum _),
    "q110_template_novelty" -> (q110_template_novelty _),
    "q111_mv_compacted" -> (q111_mv_compacted _),
    "q112_tail_sampling" -> (q112_tail_sampling _),
    "q113_m4" -> (q113_m4 _),
    "q114_lttb" -> (q114_lttb _),
    "q115_context" -> (q115_context _),
    "q117_recording_rules" -> (q117_recording_rules _),
    "q100_session_overlap" -> (q100_session_overlap _),
    "q101_concurrency" -> (q101_concurrency _),
    "q102_funnel" -> (q102_funnel _),
    "q103_retention" -> (q103_retention _),
    "q30_patterns" -> (q30_patterns _),
    "q82_asof" -> (q82_asof _),
    "q83_sessionize" -> (q83_sessionize _),
    "q84_heavy_hitters" -> (q84_heavy_hitters _),
    "q86_trace_depths" -> (q86_trace_depths _),
    "q46_share_of_total" -> (q46_share_of_total _),
    "q31_event_deltas" -> (q31_event_deltas _),
    "q32_mv_routed" -> (q32_mv_routed _),
    "q53_mv_quantile" -> (q53_mv_quantile _),
    "q33_gap_fill" -> (q33_gap_fill _),
    "q34_service_map" -> (q34_service_map _),
    "q35_ratio_per_group" -> (q35_ratio_per_group _),
    "q145_ks_drift" -> (q145_ks_drift _),
    "q146_psi_drift" -> (q146_psi_drift _),
    "q154_quantile_norm" -> (q154_quantile_norm _),
    "q157_transitions" -> (q157_transitions _),
    "q167_calibration" -> (q167_calibration _),
    "q168_gini" -> (q168_gini _),
    "q183_pr_curve" -> (q183_pr_curve _),
    "q184_auc" -> (q184_auc _),
    "q187_brier" -> (q187_brier _),
    "q169_winsorize" -> (q169_winsorize _))

  val oracles: Map[String, String] = Map(
    "q123_seasonal" -> q123_sql,
    "q127_ewma" -> q127_sql,
    "q134_holt" -> q134_sql,
    "q135_drift" -> q135_sql,
    "q136_spearman" -> q136_sql,
    "q137_mad" -> q137_sql,
    "q104_critical_path" -> q104_sql,
    "q105_burn_rate" -> q105_sql,
    "q106_sequence_match" -> q106_sql,
    "q108_cusum" -> q108_sql,
    "q110_template_novelty" -> q110_sql,
    "q111_mv_compacted" -> q53_sql,
    "q112_tail_sampling" -> q112_sql,
    "q113_m4" -> q113_sql,
    "q114_lttb" -> q114_sql,
    "q115_context" -> q115_sql,
    "q117_recording_rules" -> q117_sql,
    "q100_session_overlap" -> q100_sql,
    "q101_concurrency" -> q101_sql,
    "q102_funnel" -> q102_sql,
    "q103_retention" -> q103_sql,
    "q30_patterns" -> q30_sql,
    "q82_asof" -> q82_sql,
    "q83_sessionize" -> q83_sql,
    "q84_heavy_hitters" -> q84_sql,
    "q86_trace_depths" -> q86_sql,
    "q31_event_deltas" -> q31_sql,
    "q46_share_of_total" -> q46_sql,
    "q32_mv_routed" -> q32_sql,
    "q53_mv_quantile" -> q53_sql,
    "q33_gap_fill" -> q33_sql,
    "q34_service_map" -> q34_sql,
    "q35_ratio_per_group" -> q35_sql,
    "q145_ks_drift" -> q145_sql,
    "q146_psi_drift" -> q146_sql,
    "q154_quantile_norm" -> q154_sql,
    "q157_transitions" -> q157_sql,
    "q167_calibration" -> q167_sql,
    "q168_gini" -> q168_sql,
    "q183_pr_curve" -> q183_sql,
    "q184_auc" -> q184_sql,
    "q187_brier" -> q187_sql,
    "q169_winsorize" -> q169_sql)
}
