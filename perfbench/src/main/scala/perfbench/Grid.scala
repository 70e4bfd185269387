package perfbench

import java.time.Instant
import java.util.SplittableRandom

/** One dashboard request of the fixed grid. `kind` is the endpoint family
  * ("query", "search" or "promql"); a search entry is two progressive
  * pages, the second sent with the first page's cursor. `sql` is a DuckDB
  * statement that yields the same rows (None where no SQL equivalent
  * exists); `perfbench/crosscheck.py` runs it. */
final case class Req(id: String, kind: String, path: String, body: String,
    sql: Option[String]) {
  def pages: Int = if (kind == "search") 2 else 1
}

/** The finite request grid of the `dashboard` workload, and the seeded
  * request sequence over it. Every entry reads `events` (or the `metrics`
  * view derived from it) in a window of the fixed data's 30 days. */
object Grid {
  /** Windows: a start day and a length in days. */
  val Windows: Seq[(Int, Int)] =
    for (start <- 0 to 26 by 2; len <- Seq(1, 3)) yield (start, len)
  /** The fixed dashboard's window: the last three days of data. */
  val DashboardWindow: (Int, Int) = (26, 3)

  val QuantileFilters: Seq[(String, String)] = Seq(
    "event_type:click" -> "lower(event_type) LIKE '%click%'",
    "event_type:purchase OR event_type:view" ->
      "(lower(event_type) LIKE '%purchase%' OR lower(event_type) LIKE '%view%')",
    "value:>100" -> "value > 100")
  val SearchFilters: Seq[(String, String)] = Seq(
    "" -> "TRUE",
    "event_type:error" -> "lower(event_type) LIKE '%error%'",
    "value:>100" -> "value > 100")
  val KThresholds: Seq[Int] = Seq(25, 50, 75)
  val PromSteps: Seq[Long] = Seq(3600L, 10800L)
  val PromQuery = "sum by (ServiceName) (rate(value[1h]))"

  private def iso(day: Int): String =
    Instant.ofEpochSecond(Data.Epoch0 + day * 86400L).toString
  private def rangeJson(w: (Int, Int)): String =
    s""""dateRange":{"from":"${iso(w._1)}","to":"${iso(w._1 + w._2)}",""" +
      """"inclusiveEnd":false}"""
  private def rangeSql(w: (Int, Int)): String =
    s"ts >= TIMESTAMP '${iso(w._1).dropRight(1).replace('T', ' ')}' AND " +
      s"ts < TIMESTAMP '${iso(w._1 + w._2).dropRight(1).replace('T', ' ')}'"
  private def wid(w: (Int, Int)) = s"d${w._1}+${w._2}"
  private def lucene(q: String): String =
    if (q.isEmpty) "" else s""","where":{"lucene":"$q"}"""

  def timeseries(w: (Int, Int), g: Long): Req = Req(s"ts/${wid(w)}/g$g",
    "query", "/query",
    s"""{"from":"events","select":[""" +
      """{"valueExpression":"*","aggFn":"count","alias":"n"},""" +
      """{"valueExpression":"value","aggFn":"sum","alias":"total"}],""" +
      s""""groupBy":["event_type"],"granularity":$g,${rangeJson(w)},""" +
      """"orderBy":[{"expression":"event_type"}]}""",
    Some(s"SELECT CAST(floor(epoch(ts) / $g) * $g AS BIGINT) AS " +
      "__time_bucket, event_type, count(*) AS n, sum(value) AS total " +
      s"FROM events WHERE ${rangeSql(w)} GROUP BY ALL " +
      "ORDER BY __time_bucket, event_type"))

  def quantile(w: (Int, Int), f: Int): Req = {
    val (lq, sql) = QuantileFilters(f)
    Req(s"quantile/${wid(w)}/f$f", "query", "/query",
      s"""{"from":"events","select":[""" +
        """{"valueExpression":"value","aggFn":"quantile","level":0.9,""" +
        """"alias":"p90"},{"valueExpression":"*","aggFn":"count",""" +
        s""""alias":"n"}]${lucene(lq)},"groupBy":["event_type"],""" +
        s""""granularity":86400,${rangeJson(w)},""" +
        """"orderBy":[{"expression":"event_type"}]}""",
      Some("SELECT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS " +
        "__time_bucket, event_type, quantile_cont(value, 0.9) AS p90, " +
        s"count(*) AS n FROM events WHERE ${rangeSql(w)} AND $sql " +
        "GROUP BY ALL ORDER BY __time_bucket, event_type"))
  }

  def ratio(w: (Int, Int)): Req = Req(s"ratio/${wid(w)}", "query", "/query",
    s"""{"from":"events","select":[""" +
      """{"valueExpression":"*","aggFn":"count","alias":"errors",""" +
      """"aggCondition":{"lucene":"event_type:error"}},""" +
      """{"valueExpression":"*","aggFn":"count","alias":"n"}],""" +
      s""""granularity":21600,${rangeJson(w)}}""",
    Some("SELECT CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) AS " +
      "__time_bucket, count(*) FILTER (WHERE lower(event_type) LIKE " +
      "'%error%') AS errors, count(*) AS n FROM events WHERE " +
      s"${rangeSql(w)} GROUP BY ALL ORDER BY __time_bucket"))

  def distinct(w: (Int, Int), k: Int): Req = Req(s"distinct/${wid(w)}/k$k",
    "query", "/query",
    s"""{"from":"events","select":[""" +
      """{"valueExpression":"user_id","aggFn":"count_distinct",""" +
      s""""alias":"users"}]${lucene(s"props.k:>$k")},""" +
      s""""groupBy":["event_type"],${rangeJson(w)},""" +
      """"orderBy":[{"expression":"event_type"}]}""",
    Some("SELECT event_type, count(DISTINCT user_id) AS users FROM events " +
      s"WHERE ${rangeSql(w)} AND " +
      s"CAST(json_extract_string(props, '$$.k') AS DOUBLE) > $k " +
      "GROUP BY ALL ORDER BY event_type"))

  def search(w: (Int, Int), f: Int): Req = {
    val (lq, sql) = SearchFilters(f)
    Req(s"search/${wid(w)}/f$f", "search", "/search",
      s"""{"from":"events","select":[""" +
        """{"valueExpression":"event_id","aggFn":"none"},""" +
        """{"valueExpression":"ts","aggFn":"none"},""" +
        """{"valueExpression":"event_type","aggFn":"none"},""" +
        s"""{"valueExpression":"value","aggFn":"none"}]${lucene(lq)},""" +
        """"orderBy":[{"expression":"ts","desc":true},""" +
        s"""{"expression":"event_id"}],"limit":20,${rangeJson(w)}}""",
      // page p of the engine's answer is rows [20p, 20p + 20) of this
      Some("SELECT event_id, ts, event_type, value FROM events WHERE " +
        s"${rangeSql(w)} AND $sql ORDER BY ts DESC, event_id LIMIT 40"))
  }

  def promql(w: (Int, Int), step: Long): Req = {
    val enc = java.net.URLEncoder.encode(PromQuery, "UTF-8")
    Req(s"promql/${wid(w)}/s$step", "promql",
      s"/api/v1/query_range?query=$enc&start=${iso(w._1)}" +
        s"&end=${iso(w._1 + w._2)}&step=$step", "", None)
  }

  /** The whole grid, in a fixed order. */
  val all: Vector[Req] = (
    (for (w <- Windows; g <- Seq(3600L, 21600L)) yield timeseries(w, g)) ++
    (for (w <- Windows; f <- QuantileFilters.indices) yield quantile(w, f)) ++
    Windows.map(ratio) ++
    (for (w <- Windows; k <- KThresholds) yield distinct(w, k)) ++
    (for (w <- Windows; f <- SearchFilters.indices) yield search(w, f)) ++
    (for (w <- Windows; s <- PromSteps) yield promql(w, s))).toVector

  /** The fixed dashboard: ten tiles over the same window, re-sent byte
    * for byte on every refresh. Ten is the tile count of the program's own
    * dashboard fan-out (`graft.Bench.DashboardSet`); every template has at
    * least one tile. */
  val dashboard: Vector[Req] = {
    val w = DashboardWindow
    Vector(timeseries(w, 3600L), timeseries(w, 21600L), quantile(w, 0),
      quantile(w, 2), ratio(w), distinct(w, 50), search(w, 0), search(w, 1),
      promql(w, 3600L), promql(w, 10800L))
  }
  require(dashboard.forall(all.contains), "dashboard tiles must be grid entries")

  /** The grid by template and window length: an ad-hoc draw takes one
    * entry of each, so that no seed gets more long windows than another. */
  private val byTemplateAndLength: Vector[Vector[Req]] =
    all.groupBy(r => r.id.split('/').take(2) match {
      case Array(t, w) => (t, w.dropWhile(_ != '+'))
    }).toVector.sortBy(_._1).map(_._2)

  val DeckSize = 22

  /** One shuffled deck of `DeckSize` requests: one refresh of the fixed
    * dashboard (its ten tiles, re-sent byte for byte) and two ad-hoc
    * entries of each of the six templates, one over a 1-day window and one
    * over a 3-day window. The refresh share, 10 of 22, is an assumption
    * with no measured source. Dealing whole decks keeps the mix identical
    * across seeds; the seed picks the ad-hoc entries and the order. */
  def deck(r: SplittableRandom): Vector[Req] = {
    val cards = (dashboard ++
      byTemplateAndLength.map(xs => xs(r.nextInt(xs.size))))
      .toArray
    for (i <- cards.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = cards(i); cards(i) = cards(j); cards(j) = t
    }
    require(cards.length == DeckSize)
    cards.toVector
  }

  /** An endless seeded sequence of decks. */
  def sequence(seed: Long): Iterator[Req] = {
    val r = new SplittableRandom(seed)
    Iterator.continually(deck(r)).flatten
  }
}
