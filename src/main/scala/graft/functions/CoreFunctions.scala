package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Core scalar-function vocabulary of the engine.
  *
  * Re-expresses (Spark-first, codegen'd built-ins only — no UDFs) the
  * semantics the reference emits as ClickHouse SQL:
  *   - numeric coercion `toFloat64OrDefault(toString(x))`
  *     (reference: packages/common-utils/src/core/renderChartConfig.ts:516-522)
  *   - token search `hasToken` / `hasAllTokens`
  *     (reference: packages/common-utils/src/queryParser.ts:1391-1608)
  *   - time bucketing `toStartOfInterval`
  *     (reference: packages/common-utils/src/core/renderChartConfig.ts:818-861)
  *   - auto-granularity ladder
  *     (reference: packages/common-utils/src/core/utils.ts:427-469)
  */
object CoreFunctions {

  /** Alias used for the generated time-bucket column, like the reference's
    * `__hdx_time_bucket` (renderChartConfig.ts:85). */
  val TimeBucketAlias = "__time_bucket"

  /** ClickHouse `toFloat64OrDefault(toString(x))`: any value coerced to
    * double, unparsable → 0.0, NULL propagates (aggregates then skip it).
    * Part of aggregation semantics — string columns are aggregatable
    * (reference renderChartConfig.ts:516-522;
    * int-test renderChartConfig.int.test.ts:148-175). */
  def toFloat64OrDefault(c: Column, default: Double = 0.0): Column =
    when(c.isNull, lit(null).cast("double"))
      .otherwise(coalesce(c.cast("string").cast("double"), lit(default)))

  /** ClickHouse `toUInt64OrZero(toString(x))` */
  def toUInt64OrZero(c: Column): Column =
    coalesce(c.cast("string").cast("long"), lit(0L))

  /** Sample-weight expression: `greatest(toUInt64OrZero(toString(x)), 1)`
    * (reference renderChartConfig.ts:563). */
  def sampleWeight(c: Column): Column = greatest(toUInt64OrZero(c), lit(1L))

  /** ClickHouse tokenizer: split on non-alphanumeric ASCII, drop empties
    * (reference queryParser.ts:709-711 `tokenizeTerm`). */
  def tokenize(c: Column): Column =
    filter(split(lower(c), "[^a-zA-Z0-9]+"), t => length(t) > 0)

  /** Scala-side tokenizer — must agree with [[tokenize]]. */
  def tokenizeTerm(s: String): Seq[String] =
    s.toLowerCase.split("[^a-zA-Z0-9]+").toSeq.filter(_.nonEmpty)

  /** ClickHouse `hasToken(lower(col), lower(tok))`: token must appear in the
    * column delimited by non-alphanumerics (reference queryParser.ts:1579-1600).
    * Deliberately lambda-free (no [[tokenize]] empty-filter): a non-empty
    * token never equals the empty fragments `split` leaves behind, and a
    * lambda-free tree serializes through `Expression.sql` for BuilderSql. */
  def hasToken(c: Column, token: String): Column = {
    require(token.nonEmpty, "hasToken requires a non-empty token")
    array_contains(split(lower(c), "[^a-zA-Z0-9]+"), token.toLowerCase)
  }

  /** All tokens of the term must appear (hasAllTokens semantics,
    * reference queryParser.ts:1510-1547). */
  def hasAllTokens(c: Column, term: String): Column = {
    val toks = tokenizeTerm(term)
    if (toks.isEmpty) lit(true)
    else toks.map(t => hasToken(c, t)).reduce(_ && _)
  }

  /** Case-insensitive contains, with LIKE-metachar semantics handled by using
    * `contains` directly (reference escapeLikePattern queryParser.ts:55-57 —
    * escaping exists so that user text is matched literally; `contains` is
    * literal already). */
  def iContains(c: Column, s: String): Column =
    lower(c).contains(lit(s.toLowerCase))

  /** ClickHouse `notEmpty(toString(col))`-style existence check
    * (reference queryParser.ts:546-588). */
  def notEmpty(c: Column): Column = c.isNotNull && c.cast("string") =!= ""

  // ---------------------------------------------------------------- time

  /** Granularity ladder, seconds. Mirrors the reference's
    * `15s 30s 1m 5m 10m 15m 30m 1h 2h 6h 12h 1d 2d 7d 30d` ladder
    * (utils.ts:427-469); 10m skipped there for MV divisibility — kept here
    * for the same reason. */
  private val LadderSeconds: Seq[Long] = Seq(
    15L, 30L, 60L, 5 * 60L, 15 * 60L, 30 * 60L, 3600L, 2 * 3600L,
    6 * 3600L, 12 * 3600L, 86400L, 2 * 86400L, 7 * 86400L, 30 * 86400L)

  /** Most buckets an auto-granularity series may have (reference
    * DEFAULT_AUTO_GRANULARITY_MAX_BUCKETS, utils.ts:40). */
  private val AutoBucketCap = 60

  /** Auto granularity: smallest ladder step giving ≤ [[AutoBucketCap]]
    * buckets over the range. */
  def autoGranularitySeconds(rangeSeconds: Long): Long =
    LadderSeconds.find(g => rangeSeconds / g <= AutoBucketCap)
      .getOrElse(LadderSeconds.last)

  /** `toStartOfInterval(ts, INTERVAL n seconds)` — floor the timestamp to a
    * step boundary. Uses integer floor-division on epoch seconds so it works
    * for any step (not just calendar units), matching ClickHouse semantics
    * (reference renderChartConfig.ts:818-861). */
  def timeBucket(ts: Column, stepSeconds: Long): Column =
    timestamp_seconds(
      floor(unix_timestamp(ts) / stepSeconds).cast("long") * stepSeconds)

  /** Sub-second-capable variant used where ns/µs fidelity matters. */
  def timeBucketMicros(ts: Column, stepMicros: Long): Column =
    timestamp_micros(
      floor(unix_micros(ts) / stepMicros).cast("long") * stepMicros)

  /** Align a date range to granularity boundaries: start FLOORS to the
    * step, end CEILS — the reference's `getAlignedDateRange`
    * (utils.ts, tested utils.test.ts:2397-2504). Without it the first
    * and last chart buckets cover partial windows and read artificially
    * low. Deliberately a CALLER helper (the serve layer opts in per
    * config) rather than automatic in the compiler: an explicit range
    * filter must stay exact — widening it silently would change
    * results. */
  def alignDateRange(from: java.time.Instant, to: java.time.Instant,
      stepSeconds: Long): (java.time.Instant, java.time.Instant) = {
    require(stepSeconds > 0, "stepSeconds must be positive")
    val f = Math.floorDiv(from.getEpochSecond, stepSeconds) * stepSeconds
    // a fractional second past a boundary must still ceil UP — dropping
    // nanos would shrink the range, and this helper only ever widens
    val t0 = to.getEpochSecond + (if (to.getNano > 0) 1L else 0L)
    val t = (Math.floorDiv(t0 - 1, stepSeconds) + 1) * stepSeconds
    (java.time.Instant.ofEpochSecond(f),
      java.time.Instant.ofEpochSecond(math.max(t, f + stepSeconds)))
  }

  /** Parse "5 minute"/"1 hour"/"30 second"/"1 day" or "auto" granularity
    * strings to seconds. */
  def granularityToSeconds(g: String): Long = {
    val m = "(\\d+)\\s*(second|minute|hour|day|week)s?".r
    g.trim.toLowerCase match {
      case m(n, unit) =>
        val mult = unit match {
          case "second" => 1L; case "minute" => 60L; case "hour" => 3600L
          case "day" => 86400L; case "week" => 7 * 86400L
        }
        n.toLong * mult
      case other => throw new IllegalArgumentException(
        s"unparsable granularity: $other")
    }
  }

  // ---------------------------------------------------------------- arrays

  /** Element-wise sum of two equal-length numeric arrays (ClickHouse
    * vector-add used inside `sumForEach` pipelines, histogram.ts:160). */
  def vectorAdd(a: Column, b: Column): Column = zip_with(a, b, (x, y) => x + y)

  /** Running cumulative sum of a numeric array (ClickHouse `arrayCumSum`,
    * histogram.ts:215) — one codegen'd O(n) pass, value-identical to the
    * previous slice+aggregate-per-index form (same left-to-right
    * accumulation; see [[graft.functions.ArrayCumSum]]). */
  def arrayCumSum(a: Column): Column = VectorOps.cumSum(a)

  /** ClickHouse `arraySum`. */
  def arraySum(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + x)
}
