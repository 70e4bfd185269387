package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.CoreFunctions._
import graft.lucene.{FieldResolver, LuceneCompiler, LuceneContext}

/** Structured Streaming surface — replaces two reference mechanisms:
  *
  *  - "live tail": the reference polls with descending batch windows
  *    (packages/app/src/hooks/useOffsetPaginatedQuery.tsx:91-135,
  *    searchWindows.ts) because ClickHouse has no push; Spark has a real
  *    streaming engine, so tail = readStream + the same compiled lucene
  *    predicate, append mode.
  *  - incremental rollups: the reference maintains ClickHouse SummingMergeTree
  *    MVs (00006_otel_logs_rollups.sql); here a watermarked streaming
  *    aggregation writes the same pre-aggregate continuously.
  */
object Streaming {

  /** Live tail: filter a streaming frame with the engine's lucene
    * compiler — identical semantics to the batch search path. */
  def liveTail(stream: DataFrame, luceneQuery: String,
      implicitColumn: Option[String],
      jsonStringColumns: Set[String] = Set.empty): DataFrame = {
    val resolver = new FieldResolver(stream.schema, jsonStringColumns)
    val ctx = LuceneContext(resolver, implicitColumn.map(col))
    stream.filter(LuceneCompiler.compile(luceneQuery, ctx))
  }

  /** Tumbling-window rollup with late-data tolerance: the incremental
    * equivalent of the reference's 15m kv rollup MVs. Output schema:
    * window_start, groupBy…, cnt, sum_value[, hist_state, uniq_state].
    *
    * `withSketches` additionally maintains the MV-routing sketch partials
    * (graft.functions.QuantileSketch): the quantile histogram (a capped
    * map-sum Aggregator, ≤ 4096 bins) and the distinct-count theta
    * sketch (Spark's `theta_sketch_agg`, ≤ 16,384 hashes) MvRouter
    * merges at query time. Both are BOUNDED-state mergeable aggregates
    * (≤ ~128 KiB per cell at any cardinality), so the streaming state
    * store cannot grow past cells × cap — the streaming twin of the
    * batch MvRouter.buildRollup(withSketches = true). */
  def rollup(stream: DataFrame, tsCol: String, valueCol: Option[String],
      stepSeconds: Long, groupBy: Seq[String],
      watermarkDelay: String = "10 minutes",
      withSketches: Boolean = false): DataFrame = {
    val aggs: Seq[Column] = count(lit(1)).as("cnt") +:
      valueCol.toSeq.flatMap { v =>
        val d = toFloat64OrDefault(col(v))
        Seq(sum(d).as("sum_value"), min(d).as("min_value"),
          max(d).as("max_value")) ++
          (if (withSketches)
            Seq(graft.functions.QuantileSketch.histState(d)
              .as("hist_state"),
              graft.functions.QuantileSketch.distinctState(d)
                .as("uniq_state"))
          else Nil)
      }
    stream
      .withWatermark(tsCol, watermarkDelay)
      .groupBy((window(col(tsCol), s"$stepSeconds seconds")
        .as("w") +: groupBy.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col("w.start"))
      .drop("w")
  }

  /** Streaming M4 — live-chart downsampling as a watermarked
    * aggregation: per (pixel window, series) keep n/first/last/min/max
    * of the value, the error-free line-rendering set of
    * [[graft.analysis.Downsample.m4]], with first/last made
    * deterministic by (event time, tie) order. State per cell is five
    * scalars; total state is pixels × series × open windows, never
    * event volume — the live twin of the batch M4. */
  def m4Rollup(stream: DataFrame, tsCol: String, valCol: String,
      tieCol: String, pixelSeconds: Long, seriesCols: Seq[String],
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(pixelSeconds > 0, "pixelSeconds must be positive")
    // the SAME aggregate set (incl. the floored-second order key) as
    // batch Downsample.m4 — parity by construction, not by copy
    val aggs = graft.analysis.Downsample.m4Aggs(valCol, tsCol, tieCol)
    stream
      .withWatermark(tsCol, watermarkDelay)
      .groupBy((window(col(tsCol), s"$pixelSeconds seconds")
        .as("w") +: seriesCols.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col("w.start"))
      .drop("w")
  }

  /** Streaming ingest dedup: drop records whose key columns repeat within
    * the watermark horizon — the continuous twin of the batch
    * `Dedup.exact` pass a training-data ingest runs before anything else.
    * State is BOUNDED: `dropDuplicatesWithinWatermark` evicts a key's
    * state once the watermark passes its event time, so long-running
    * ingest cannot accumulate unbounded key state (a plain
    * dropDuplicates on a stream would). Emits first-seen records only,
    * append mode. Dedup by content rather than id: pass a derived
    * content-hash column (e.g. `md5(lower(text))`) built before the
    * call. */
  def dedupStream(stream: DataFrame, tsCol: String, keyCols: Seq[String],
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(keyCols.nonEmpty, "need at least one dedup key column")
    stream
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)
  }

  /** Continuous gap-timeout sessionization: Spark's native
    * session_window (dynamic-gap windows merged in the state store,
    * watermark-bounded) — the streaming twin of the batch
    * [[graft.analysis.Sessionize]]. One row per closed session:
    * session_start/session_end, keys…, events. A session closes when
    * the watermark passes its last event + gap, so state is bounded by
    * the number of OPEN sessions, never by history. Note session_end is
    * Spark's window end = last event + gap (the batch
    * `Sessionize.sessions` reports the last event itself). */
  def sessionRollup(stream: DataFrame, tsCol: String, keys: Seq[String],
      gapSeconds: Long, watermarkDelay: String = "10 minutes")
      : DataFrame = {
    require(keys.nonEmpty, "sessionization needs at least one key")
    stream
      .withWatermark(tsCol, watermarkDelay)
      .groupBy((session_window(col(tsCol), s"$gapSeconds seconds")
        .as("w") +: keys.map(col)): _*)
      .agg(count(lit(1)).as("events"))
      .withColumn("session_start", col("w.start"))
      .withColumn("session_end", col("w.end"))
      .drop("w")
  }

  /** Facet rollup: per-window map-key/value counts over an attributes map
    * column — the exact shape of the reference's
    * otel_logs_kv_rollup_15m MV (00006_otel_logs_rollups.sql). */
  def kvRollup(stream: DataFrame, tsCol: String, mapCol: String,
      stepSeconds: Long = 900,
      watermarkDelay: String = "10 minutes"): DataFrame =
    stream
      .withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol), explode(col(mapCol)).as(Seq("key", "value")))
      .groupBy(window(col(tsCol), s"$stepSeconds seconds").as("w"),
        col("key"), col("value"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("window_start", col("w.start"))
      .drop("w")

  /** Bounded-state facet rollup: [[kvRollup]] keys its state on every
    * DISTINCT (window, key, value) — a high-cardinality attribute
    * (user id, trace id) grows streaming state without bound. This
    * variant aggregates a Misra-Gries heavy-hitters sketch per
    * (window, key) instead: state per cell is ≤ `capacity` counters
    * regardless of value cardinality, exact whenever a cell's distinct
    * values fit the capacity (the [[graft.functions.FrequentItems]]
    * contract), top-`maxValuesPerKey` emitted per cell on window
    * close. */
  def kvRollupSketched(stream: DataFrame, tsCol: String, mapCol: String,
      stepSeconds: Long = 900, capacity: Int = 256,
      maxValuesPerKey: Int = 20,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(maxValuesPerKey <= capacity,
      s"maxValuesPerKey ($maxValuesPerKey) cannot exceed the sketch " +
        s"capacity ($capacity)")
    stream
      .withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol), explode(col(mapCol)).as(Seq("key", "value")))
      .filter(col("value").isNotNull)
      .groupBy(window(col(tsCol), s"$stepSeconds seconds").as("w"),
        col("key"))
      .agg(graft.functions.FrequentItems
        .freqItems(col("value"), capacity).as("m"))
      .withColumn("window_start", col("w.start"))
      .drop("w")
      // top-k via expression-level sort+slice: rank windows are not
      // allowed downstream of a streaming aggregation
      .withColumn("__sorted", slice(array_sort(map_entries(col("m")),
        (l, r) => when(l.getField("value") > r.getField("value"), -1)
          .when(l.getField("value") < r.getField("value"), 1)
          .when(l.getField("key") < r.getField("key"), -1)
          .when(l.getField("key") > r.getField("key"), 1)
          .otherwise(0)), 1, maxValuesPerKey))
      .select(col("window_start"), col("key"),
        explode(col("__sorted")).as("__e"))
      .select(col("window_start"), col("key"),
        col("__e.key").as("value"), col("__e.value").as("cnt"))
  }
}
