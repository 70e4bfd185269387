package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.compile.{Catalog, QueryCompiler}

/** Tiny JSON-string helpers for responses (requests parse via Jackson in
  * [[QueryJson]]; responses are assembled, not reflected). */
private[serve] object QueryJsonOut {
  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

/** `k=v&k=v` (a URL query string or a form-encoded body) as URL-decoded
  * pairs in request order; a key without `=` maps to "". */
private[serve] object FormParams {
  def pairs(raw: String): Seq[(String, String)] = {
    def dec(s: String) = java.net.URLDecoder.decode(s, UTF_8)
    raw.split("&").toSeq.filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => dec(k) -> dec(v)
        case Array(k) => dec(k) -> ""
      }
    }
  }
}

/** /labels request (GET query params or POST JSON): which catalog
  * source holds the metric frame, an optional PromQL selector to narrow
  * the rows, an optional single label (the label-VALUES dropdown call),
  * and the per-label value cap. Defaults: from="metrics",
  * maxValues=100 (bounded at 1000 — it is a discovery surface). */
private[serve] final case class LabelsReq(from: String,
    selector: Option[String], label: Option[String], maxValues: Int)

private[serve] object LabelsReq {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def parse(ex: HttpExchange, body: String): LabelsReq =
    if (ex.getRequestMethod == "GET")
      fromParams(Option(ex.getRequestURI.getRawQuery).getOrElse(""))
    else fromJson(body)

  private def fromParams(raw: String): LabelsReq = {
    val params = FormParams.pairs(raw).toMap
    build(params.get("from"), params.get("selector"),
      params.get("label"),
      params.get("maxValues").map { s =>
        try s.toInt
        catch {
          case _: NumberFormatException => throw
            new IllegalArgumentException("'maxValues' must be a number")
        }
      })
  }

  private def fromJson(body: String): LabelsReq = {
    // an empty POST body means "all defaults" — symmetric with a bare GET
    val root = mapper.readTree(if (body.trim.isEmpty) "{}" else body)
    require(root != null && root.isObject, "body must be a JSON object")
    def str(f: String): Option[String] =
      Option(root.get(f)).filterNot(_.isNull).map { v =>
        require(v.isTextual, s"'$f' must be a string")
        v.asText
      }
    val mv = Option(root.get("maxValues")).filterNot(_.isNull).map { v =>
      require(v.isNumber, "'maxValues' must be a number")
      v.asInt
    }
    build(str("from"), str("selector"), str("label"), mv)
  }

  private def build(from: Option[String], selector: Option[String],
      label: Option[String], maxValues: Option[Int]): LabelsReq = {
    val mv = maxValues.getOrElse(100)
    require(mv >= 1 && mv <= 1000, "maxValues must be in [1, 1000]")
    LabelsReq(from.getOrElse("metrics"), selector.filter(_.nonEmpty),
      label.filter(_.nonEmpty), mv)
  }
}

/** The engine's process boundary — the box the reference draws as
  * "browser ⇄ ClickHouse HTTP interface" (packages/common-utils/src/
  * clickhouse/browser.ts), restated as a thin HTTP front on the compile
  * pipeline so a dashboard (or curl) can run ChartConfig JSON without
  * linking Spark:
  *
  *   GET  /health          → {"status":"ok"}
  *   POST /validate        → [[Validator.validate]]: {valid, error?,
  *                           estimatedRows?, estimatedBytes?} — analysis
  *                           only, no job runs
  *   POST /query           → compile + execute; {"rows":[...]} with each
  *                           row rendered by Spark's own JSON encoder
  *                           (df.toJSON — types/nulls handled once)
  *   POST /search          → ONE progressive-search page (the
  *                           reference's paginated search surface):
  *                           /query's config JSON (dateRange + limit
  *                           required) + optional opaque "cursor";
  *                           answers {rows, windowsScanned, next}
  *   POST /explain         → {"plan": "<formatted physical plan>"} —
  *                           compile + explain only, no job runs
  *   POST /export          → the query's result as CSV (text/csv, same
  *                           writer as Sinks.writeCsv — the reference's
  *                           useCsvExport surface); truncation at
  *                           maxRows signals via the X-Graft-Truncated
  *                           response header
  *   GET/POST /labels      → label names + top values for a metric
  *                           selector (the reference's timeSeriesTags
  *                           autocomplete, prometheus.ts:792-793):
  *                           {from?, selector?, label?, maxValues?} as
  *                           JSON body or GET query params; answers
  *                           {"labels":[{"label":…,"values":[…]},…]}
  *
  * Error contract: 400 with {"error": …} for bad configs (parse or
  * analysis), 404 for unknown paths, 429 when every query slot is in
  * use (`threads − 1` permits — one pool thread stays effectively free
  * so /health answers even at query saturation, and concurrent driver
  * buffering is bounded at permits × maxRows rows), 503 when the
  * per-query watchdog cancels a query past `maxQuerySeconds`
  * (ClickHouse's max_execution_time analogue — the job group is
  * cancelled so the runaway query releases its executor slots), 500
  * with the message for other runtime failures. The server holds ONE SparkSession; requests run on a small
  * fixed pool (`threads`, default 8) so a long-running /query can never
  * block /health — with HttpServer's default (dispatcher-thread)
  * executor a slow query would flap liveness probes. Spark's scheduler
  * interleaves the concurrent jobs; deeper concurrency policy (queues,
  * fair-scheduler pools) belongs to the deployment.
  *
  * A result cap (`maxRows`, default 100k) guards the process boundary:
  * the driver-side collect is the browser-bound result, not a data
  * export — bulk movement belongs to the parquet sinks. The cap is
  * NEVER silent (ClickHouse's `rows_before_limit_at_least` discipline):
  * /query fetches maxRows + 1 and answers `"truncated":true` plus the
  * cap when the extra row exists; /export signals the same through the
  * X-Graft-Truncated header. */
final class Server(spark: SparkSession, catalog: Catalog, port: Int,
    maxRows: Int = 100000, threads: Int = 8,
    maxQuerySeconds: Int = 300) {
  // mirror Sinks.csvString's guard: /query, /labels, and collectSeries
  // fetch maxRows + 1, so a maximal maxRows would overflow to a
  // negative limit and fail every query
  require(maxRows >= 0 && maxRows < Int.MaxValue,
    s"maxRows must be in [0, ${Int.MaxValue - 1}]: got $maxRows")
  require(threads >= 2,
    "threads must be >= 2: with one thread the single query permit and " +
      "the only pool thread coincide, so /health would queue behind a " +
      "long query — the exact liveness failure the permit design exists " +
      "to prevent")

  /** Signals the caller got a 503 because the watchdog cancelled the
    * query's job group — the ClickHouse `max_execution_time` analogue. */
  private final class QueryTimeout extends RuntimeException(
    s"query exceeded $maxQuerySeconds s and was cancelled")

  private val watchdog =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val t = new Thread(r, "graft-serve-watchdog")
        t.setDaemon(true)
        t
      })

  /** Run `action` under a per-request Spark job group; a watchdog
    * cancels the group after `maxQuerySeconds` (interrupting running
    * tasks), so one runaway query cannot hold executor slots forever.
    * Job groups are thread-local, matching the per-request pool. */
  private def withTimeout[A](action: => A): A = {
    val tag = "graft-serve-" +
      java.util.UUID.randomUUID().toString.take(8)
    val timedOut = new java.util.concurrent.atomic.AtomicBoolean(false)
    spark.sparkContext.setJobGroup(tag, "serve query",
      interruptOnCancel = true)
    // one FAIR pool per POOL THREAD (bounded name set — the thread
    // name): with spark.scheduler.mode=FAIR (LocalSession), concurrent
    // requests round-robin task slots instead of FIFO-queueing behind
    // one heavy query's stages — the reference's parallel split-query
    // execution as a scheduling guarantee. Thread-local, so it rides
    // the same per-request pool thread as the job group.
    spark.sparkContext.setLocalProperty("spark.scheduler.pool",
      Thread.currentThread().getName)
    val kill = watchdog.schedule(new Runnable {
      override def run(): Unit = {
        timedOut.set(true)
        // AndFutureJobs: plain cancelJobGroup only kills jobs already
        // RUNNING — if the driver is still planning when the deadline
        // hits, the job would start afterwards and run to completion
        spark.sparkContext.cancelJobGroupAndFutureJobs(tag,
          s"query exceeded $maxQuerySeconds s")
      }
    }, maxQuerySeconds.toLong, java.util.concurrent.TimeUnit.SECONDS)
    // cancellation-shaped = "cancel" anywhere in the CAUSE CHAIN — the
    // driver often wraps it (BroadcastExchange surfaces SparkException
    // ("Exception thrown in awaitResult") with the cancel text one
    // level down)
    def cancellationShaped(t: Throwable): Boolean = {
      var cur = t
      var depth = 0
      while (cur != null && depth < 10) {
        if (Option(cur.getMessage).exists(
            _.toLowerCase.contains("cancel"))) return true
        cur = cur.getCause
        depth += 1
      }
      false
    }
    try action
    catch {
      // only REWRITE cancellation-shaped failures: a genuine error that
      // happens to land after the deadline keeps its own message (the
      // cause rides along either way for logs)
      case e: Exception if timedOut.get() && cancellationShaped(e) =>
        val t = new QueryTimeout
        t.initCause(e)
        throw t
    } finally {
      kill.cancel(false)
      spark.sparkContext.clearJobGroup()
    }
  }

  private val http = HttpServer.create(new InetSocketAddress(port), 0)
  // numbered threads: each pool thread's name doubles as its Spark
  // FAIR-scheduler pool (withTimeout), so the name set must be bounded
  // by `threads` — pools are created on demand and never reaped
  private val threadSeq = new java.util.concurrent.atomic.AtomicInteger()
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(
    threads,
    (r: Runnable) => {
      val t = new Thread(r, s"graft-serve-${threadSeq.getAndIncrement()}")
      t.setDaemon(true) // never keep the JVM alive past spark.stop()
      t
    })
  http.setExecutor(pool)

  /** Heavy endpoints (/query, /validate, /explain) take a permit;
    * `threads - 1` permits keep at least one pool thread effectively
    * free for /health, so liveness holds even at query saturation —
    * excess queries answer 429 immediately instead of queueing
    * unboundedly. The permit count also bounds driver memory: at most
    * `threads - 1` concurrent collects of ≤ maxRows rows each. */
  private val queryPermits =
    new java.util.concurrent.Semaphore(threads - 1)

  /** Actual bound port (useful when constructed with port 0). */
  def boundPort: Int = http.getAddress.getPort

  def start(): Unit = {
    http.createContext("/health", (ex: HttpExchange) =>
      // exact-path check here too: the prefix-matching dispatcher would
      // otherwise route /healthz (a DIFFERENT conventional probe) here
      if (ex.getRequestURI.getPath != "/health")
        respond(ex, 404, """{"error":"unknown path"}""")
      else respond(ex, 200, """{"status":"ok"}"""))
    http.createContext("/validate", (ex: HttpExchange) =>
      handle(ex) { body =>
        val q = QueryJson.parseQuery(body)
        (200, Validator.validate(q, catalog, spark).toJson)
      })
    http.createContext("/query", (ex: HttpExchange) =>
      handle(ex) { body =>
        val q = QueryJson.parseQuery(body)
        val df = QueryCompiler.compile(q, catalog)
        // maxRows + 1: the extra row is the truncation sentinel — a
        // capped result always SAYS it is capped
        val rows = withTimeout(df.limit(maxRows + 1).toJSON.collect())
        val truncated = rows.length > maxRows
        val kept = if (truncated) rows.take(maxRows) else rows
        val tail =
          if (truncated) s"""],"truncated":true,"maxRows":$maxRows}"""
          else "]}"
        (200, kept.mkString("""{"rows":[""", ",", tail))
      })
    // the CSV face of the boundary (the reference's useCsvExport):
    // same permit/watchdog/cap discipline as /query, payload formatted
    // by the engine's own CSV writer so quoting matches a file export
    http.createContext("/export", (ex: HttpExchange) =>
      handle(ex, contentType = "text/csv") { body =>
        val q = QueryJson.parseQuery(body)
        val df = QueryCompiler.compile(q, catalog)
        val (csv, truncated) =
          withTimeout(graft.compile.Sinks.csvString(df, maxRows))
        ex.getResponseHeaders.set("X-Graft-Truncated", truncated.toString)
        (200, csv)
      })
    // label autocomplete (the reference's timeSeriesTags surface): GET
    // for dashboard dropdowns, POST for symmetric JSON clients
    http.createContext("/labels", (ex: HttpExchange) =>
      handle(ex, allowGet = true) { body =>
        val req = LabelsReq.parse(ex, body)
        val df = graft.meta.Metadata.timeSeriesTags(
          catalog(req.from).df, req.selector.toSeq, req.label,
          req.maxValues)
        // same driver-memory discipline as /query: an id-shaped
        // attribute key can mint one LABEL per row, so the label list
        // itself needs the cap + truncation signal
        val rows = withTimeout(df.limit(maxRows + 1).toJSON.collect())
        val truncated = rows.length > maxRows
        val kept = if (truncated) rows.take(maxRows) else rows
        val tail =
          if (truncated) s"""],"truncated":true,"maxRows":$maxRows}"""
          else "]}"
        (200, kept.mkString("""{"labels":[""", ",", tail))
      })
    // the progressive-search face (the reference's #1 user entry
    // point: useOffsetPaginatedQuery.tsx:56-135 over the
    // searchWindows.ts ladder): the SAME config JSON as /query (must
    // carry dateRange + limit) plus an optional opaque "cursor" from
    // the previous page. Each call runs ONE page through
    // SearchExecutor.paginateCursor — newest ladder window first
    // unless the first ORDER BY is the timestamp ascending; a window
    // that under-fills tops up from the next window in the same call.
    // Answers {"rows":[...],"windowsScanned":N,"next":"..."|null};
    // next=null means the date range is exhausted.
    http.createContext("/search", (ex: HttpExchange) =>
      handle(ex) { body =>
        val q = QueryJson.parseQuery(body)
        val cursor = Option(mapper.readTree(body).get("cursor"))
          .filterNot(_.isNull).map { c =>
            require(c.isTextual, "'cursor' must be a string")
            c.asText
          }
        // the page size is a browser-bound result like /query's cap
        q.limit.foreach(l => require(l >= 1 && l <= maxRows,
          s"limit must be in [1, $maxRows] for /search"))
        val page = withTimeout(
          graft.compile.SearchExecutor.paginateCursor(q, catalog, cursor))
        // render through Spark's own JSON encoder (the /query
        // discipline): a page is ≤ limit rows, so the local
        // re-frame is driver-cheap
        val schema = QueryCompiler.compile(q, catalog).schema
        val json =
          if (page.rows.isEmpty) Array.empty[String]
          else spark.createDataFrame(
            java.util.Arrays.asList(page.rows: _*), schema)
            .toJSON.collect()
        val tail = s"""],"windowsScanned":${page.windowsScanned}""" +
          s""","next":${page.next.map(QueryJsonOut.quote)
            .getOrElse("null")}}"""
        (200, json.mkString("""{"rows":[""", ",", tail))
      })
    // the EXPLAIN face of the boundary: formatted physical plan for a
    // config, no job run — what an operator pastes into a ticket when a
    // dashboard panel is slow
    http.createContext("/explain", (ex: HttpExchange) =>
      handle(ex) { body =>
        val q = QueryJson.parseQuery(body)
        val df = QueryCompiler.compile(q, catalog)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        (200, s"""{"plan":${QueryJsonOut.quote(plan)}}""")
      })
    // ----- the Prometheus HTTP API v1 face (PromApi's scaladoc): the
    // reference mounts its router at /v1/prometheus for its own UI
    // (api-app.ts:114); here the same handlers register under BOTH
    // /promql/* (the engine's native spelling) and /api/v1/* — the
    // prefix a stock Grafana Prometheus datasource hardcodes
    // (<baseUrl>/api/v1/query_range|query|series|labels|label/:n/
    // values) — so Grafana can point at the engine directly.
    // Prometheus clients GET with query params or POST form-encoded —
    // both parse through promParams. Bad-data errors answer the
    // Prometheus error shape; timeouts/saturation keep the engine's
    // 503/429 discipline.
    promRoutes("/promql")
    promRoutes("/api/v1")
    streamRoutes()
    http.start()
  }

  /** Live streaming sessions (lazy: a server that never serves a
    * stream never builds the registry). */
  private lazy val streams = new graft.streaming.StreamService(spark)

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The streaming lifecycle face — START a stateful operator
    * (ewma | heavy_hitters | tail), FEED events, POLL emitted
    * windows, STOP. This is how a user reaches the
    * flatMapGroupsWithState operators end-to-end: a genuine
    * StreamingQuery with watermarks and state, drivable over HTTP
    * (Smoke and StreamServeSpec assert the full loop). */
  private def streamRoutes(): Unit = {
    http.createContext("/stream/start", (ex: HttpExchange) =>
      handle(ex) { body =>
        val root = mapper.readTree(body)
        val op = Option(root.get("op")).map(_.asText()).getOrElse(
          throw new IllegalArgumentException("missing field: op"))
        val params = Option(root.get("params")).map { p =>
          val it = p.fields()
          val b = Map.newBuilder[String, String]
          while (it.hasNext) {
            val e = it.next()
            b += (e.getKey -> e.getValue.asText())
          }
          b.result()
        }.getOrElse(Map.empty[String, String])
        val id = streams.start(op, params)
        (200, s"""{"id":"$id"}""")
      })
    http.createContext("/stream/feed", (ex: HttpExchange) =>
      handle(ex) { body =>
        val root = mapper.readTree(body)
        val id = reqStr(root, "id")
        val rowsNode = Option(root.get("rows")).getOrElse(
          throw new IllegalArgumentException("missing field: rows"))
        val rows = (0 until rowsNode.size()).map { i =>
          val r = rowsNode.get(i)
          if (r.size() != 3)
            throw new IllegalArgumentException(
              "each row must be [epochSeconds, key, value]")
          // value rides as its wire string: numeric sessions parse it
          // loudly in StreamService, text sessions (novelty) take the
          // document verbatim
          (r.get(0).asLong(), r.get(1).asText(), r.get(2).asText())
        }
        val emitted = withTimeout(streams.feed(id, rows))
        (200, s"""{"fed":${rows.length},"rows_emitted":$emitted}""")
      })
    http.createContext("/stream/poll", (ex: HttpExchange) =>
      handle(ex) { body =>
        val id = reqStr(mapper.readTree(body), "id")
        val rows = withTimeout(
          streams.poll(id).limit(maxRows + 1).toJSON.collect())
        val truncated = rows.length > maxRows
        val kept = if (truncated) rows.take(maxRows) else rows
        val tail =
          if (truncated) s"""],"truncated":true,"maxRows":$maxRows}"""
          else "]}"
        (200, kept.mkString("""{"rows":[""", ",", tail))
      })
    http.createContext("/stream/stop", (ex: HttpExchange) =>
      handle(ex) { body =>
        streams.stop(reqStr(mapper.readTree(body), "id"))
        (200, """{"stopped":true}""")
      })
    http.createContext("/stream/list", (ex: HttpExchange) =>
      handle(ex, allowGet = true) { _ =>
        val items = streams.list.map { case (id, op, active) =>
          s"""{"id":"$id","op":"$op","active":$active}"""
        }
        (200, items.mkString("""{"sessions":[""", ",", "]}"))
      })
  }

  private def reqStr(root: com.fasterxml.jackson.databind.JsonNode,
      field: String): String =
    Option(root.get(field)).map(_.asText()).getOrElse(
      throw new IllegalArgumentException(s"missing field: $field"))

  /** Register the six Prometheus-API endpoints under `prefix` — called
    * once per served prefix so /promql and /api/v1 share one handler
    * body (and therefore one behavior) per endpoint. */
  private def promRoutes(prefix: String): Unit = {
    http.createContext(s"$prefix/query_range", (ex: HttpExchange) =>
      handle(ex, allowGet = true) { body =>
        promGuard {
          val p = promParams(ex, body)
          val query = reqParam(p, "query")
          val start = PromApi.parseTime(reqParam(p, "start"), "start")
          val end = PromApi.parseTime(reqParam(p, "end"), "end")
          val step = PromApi.parseStep(pOne(p, "step").getOrElse("60"))
          val df = catalog(pOne(p, "from").getOrElse("metrics")).df
          (200, withTimeout(
            PromApi.queryRange(df, query, start, end, step, maxRows)))
        }
      })
    http.createContext(s"$prefix/query", (ex: HttpExchange) =>
      handle(ex, allowGet = true) { body =>
        promGuard {
          val p = promParams(ex, body)
          val query = reqParam(p, "query")
          val time = pOne(p, "time")
            .map(PromApi.parseTime(_, "time"))
            .getOrElse(java.time.Instant.now())
          val step = pOne(p, "step").map(PromApi.parseStep)
            .getOrElse(300L)
          val df = catalog(pOne(p, "from").getOrElse("metrics")).df
          (200, withTimeout(PromApi.instantQuery(df, query, time, step,
            maxRows)))
        }
      })
    // GET/POST query_exemplars — a deliberate empty-answer stub: the
    // engine stores no exemplars, and the reference's ClickHouse-backed
    // branch answers the same `{"status":"success","data":[]}`
    // (prometheus.ts:692-694,709-710) so an exemplars-enabled Grafana
    // datasource doesn't 404. The required params still validate —
    // native Prometheus and the reference both answer 400 when `query`
    // is missing, so strict conformance clients see parity.
    http.createContext(s"$prefix/query_exemplars", (ex: HttpExchange) =>
      handle(ex, allowGet = true) { body =>
        promGuard {
          val p = promParams(ex, body)
          reqParam(p, "query")
          pOne(p, "start").foreach(PromApi.parseTime(_, "start"))
          pOne(p, "end").foreach(PromApi.parseTime(_, "end"))
          (200, """{"status":"success","data":[]}""")
        }
      })
    // GET label/<name>/values — the label-values dropdown the
    // reference serves through ClickHouse timeSeriesTags
    // (prometheus.ts:722-824); __name__ maps to MetricName like the
    // reference's metric_name special case. A `match[]` selector
    // narrows the rows. Values rank by frequency (capped) and return
    // lexically sorted, the reference's ORDER BY val.
    http.createContext(s"$prefix/label", (ex: HttpExchange) =>
      handle(ex, allowGet = true, exactPath = false) { body =>
        promGuard {
          val path = ex.getRequestURI.getPath
          val rest = path.stripPrefix(s"$prefix/label/")
          if (rest == path || !rest.endsWith("/values"))
            (404, """{"error":"unknown path"}""")
          else {
            val name0 = rest.stripSuffix("/values")
            if (PromApi.LabelName.findFirstIn(name0).isEmpty)
              throw new IllegalArgumentException("Invalid label name")
            val name = if (name0 == "__name__") "MetricName" else name0
            val p = promParams(ex, body)
            val df = catalog(pOne(p, "from").getOrElse("metrics")).df
            val vals = withTimeout {
              graft.meta.Metadata.timeSeriesTags(df,
                selectors = pAll(p, "match[]"), onlyLabel = Some(name),
                maxValuesPerLabel = 1000)
                .collect().flatMap(_.getSeq[String](1)).sorted
            }
            (200, vals.map(QueryJsonOut.quote)
              .mkString("""{"status":"success","data":[""", ",", "]}"))
          }
        }
      })
    // GET/POST series — distinct label sets for one or more
    // match[] selectors in an optional [start, end] window (the
    // Prometheus /api/v1/series shape; data is a bare array of label
    // objects). match[] is REQUIRED like upstream; __name__ maps from
    // MetricName and leads each set.
    http.createContext(s"$prefix/series", (ex: HttpExchange) =>
      handle(ex, allowGet = true) { body =>
        promGuard {
          val p = promParams(ex, body)
          val matches = pAll(p, "match[]")
          if (matches.forall(_.isEmpty))
            throw new IllegalArgumentException(
              "no match[] parameter provided")
          val from = pOne(p, "start").map(s =>
            java.sql.Timestamp.from(PromApi.parseTime(s, "start")))
          val until = pOne(p, "end").map(s =>
            java.sql.Timestamp.from(PromApi.parseTime(s, "end")))
          val df = catalog(pOne(p, "from").getOrElse("metrics")).df
          val rows = withTimeout {
            graft.meta.Metadata.seriesSets(df, matches, from, until)
              .limit(maxRows + 1).collect()
          }
          val truncated = rows.length > maxRows
          val sets = rows.take(maxRows).toSeq.map(r =>
            r.getSeq[org.apache.spark.sql.Row](0)
              .map(p => (p.getString(0), p.getString(1))).toSeq)
          (200, PromApi.seriesJson(sets, truncated, maxRows))
        }
      })
    // GET status/buildinfo — the capability probe Grafana issues to
    // pick API features. Answers a fixed Prometheus-2.x-compatible
    // shape (an honest shim: the fields describe the API DIALECT the
    // engine speaks, not a real Prometheus build — `revision` says
    // so); native Prometheus serves the same structure
    http.createContext(s"$prefix/status/buildinfo", (ex: HttpExchange) =>
      handle(ex, allowGet = true) { _ =>
        (200, """{"status":"success","data":{"version":"2.40.0",""" +
          """"revision":"graft-spark-engine","branch":"",""" +
          """"buildUser":"","buildDate":"","goVersion":""}}""")
      })
    // GET/POST metadata — metric HELP/TYPE metadata. The engine's
    // metric frames carry no help strings, so the answer is the valid
    // empty map (clients render autocomplete without descriptions);
    // a 404 here makes some Grafana versions log errors per keystroke
    http.createContext(s"$prefix/metadata", (ex: HttpExchange) =>
      handle(ex, allowGet = true) { _ =>
        (200, """{"status":"success","data":{}}""")
      })
    // GET labels — label NAMES (the Prometheus /api/v1/labels shape);
    // __name__ leads like a native Prometheus answer
    http.createContext(s"$prefix/labels", (ex: HttpExchange) =>
      handle(ex, allowGet = true) { body =>
        promGuard {
          val p = promParams(ex, body)
          val df = catalog(pOne(p, "from").getOrElse("metrics")).df
          val names = withTimeout {
            graft.meta.Metadata.timeSeriesTags(df,
              selectors = pAll(p, "match[]"), maxValuesPerLabel = 1)
              .select("label").collect().map(_.getString(0))
              .filterNot(_ == "MetricName").sorted
          }
          (200, ("__name__" +: names.toSeq).map(QueryJsonOut.quote)
            .mkString("""{"status":"success","data":[""", ",", "]}"))
        }
      })
    ()
  }

  /** Prometheus param extraction: the query string and a form-encoded
    * POST body merge, kept as ORDERED pairs — repeatable params like
    * `match[]` (allowed by /api/v1/labels and label-values) must not
    * collapse to the last occurrence. Single-value reads take the last
    * occurrence so the body wins over the query string, the merge the
    * reference's getParams does. */
  private def promParams(ex: HttpExchange, body: String)
      : Seq[(String, String)] = {
    // a form-encoded body percent-escapes '{', so a leading brace can
    // only be a JSON body (which these endpoints don't take as params)
    val formBody =
      if (body.trim.startsWith("{")) Nil else FormParams.pairs(body)
    FormParams.pairs(Option(ex.getRequestURI.getRawQuery).getOrElse("")) ++
      formBody
  }

  /** Last occurrence wins — body params are appended after the query
    * string, so this preserves the "body wins" merge. */
  private def pOne(p: Seq[(String, String)], name: String)
      : Option[String] =
    p.foldLeft(Option.empty[String]) {
      case (acc, (k, v)) => if (k == name) Some(v) else acc
    }

  /** Every occurrence, in request order — the repeatable-param read
    * (`match[]`). */
  private def pAll(p: Seq[(String, String)], name: String): Seq[String] =
    p.collect { case (k, v) if k == name => v }

  private def reqParam(p: Seq[(String, String)], name: String): String =
    pOne(p, name).getOrElse(
      throw new IllegalArgumentException(
        s"missing required parameter: $name"))

  /** Map the bad-config family onto the Prometheus error shape
    * (`errorType: bad_data`, like the reference's handlers); anything
    * else — timeouts included — keeps the engine's generic contract. */
  private def promGuard(f: => (Int, String)): (Int, String) =
    try f
    catch {
      case e: IllegalArgumentException =>
        (400, PromApi.errorJson(msg(e)))
      case e: graft.metrics.PromQl.PromQlParseException =>
        (400, PromApi.errorJson(msg(e)))
      case e: org.apache.spark.sql.AnalysisException =>
        (400, PromApi.errorJson(msg(e)))
      case e: java.time.format.DateTimeParseException =>
        (400, PromApi.errorJson(msg(e)))
    }

  def stop(): Unit = {
    http.stop(0)
    // stop live streaming queries BEFORE the pools: an active
    // micro-batch loop would otherwise keep running against a server
    // that can no longer be polled
    streams.stopAll()
    // release the per-instance threads (a respawning embedder would
    // otherwise accumulate threads+1 daemons per restart) and forget
    // any pending watchdog so it can't cancel a job group post-stop
    pool.shutdownNow()
    watchdog.shutdownNow()
    ()
  }

  private def handle(ex: HttpExchange, allowGet: Boolean = false,
      contentType: String = "application/json",
      exactPath: Boolean = true)(
      f: String => (Int, String)): Unit = {
    // com.sun.net.httpserver dispatches by LONGEST PATH PREFIX: without
    // an exact-path check, POST /queryXYZ or /query/extra would ride the
    // /query handler instead of the documented 404. Path-parameter
    // endpoints (/promql/label/<name>/values) opt out and validate the
    // suffix themselves.
    if (exactPath &&
        ex.getRequestURI.getPath != ex.getHttpContext.getPath) {
      respond(ex, 404, """{"error":"unknown path"}""")
      return
    }
    // the permit covers the WHOLE exchange including the response write:
    // released after f(body) alone, a slow-reading client would park the
    // pool thread in respond() with the semaphore free, and saturated
    // writers would starve /health exactly like saturated queries
    if (!queryPermits.tryAcquire()) {
      respond(ex, 429,
        """{"error":"server busy: all query slots in use"}""")
      return
    }
    try handlePermitted(ex, allowGet, contentType)(f)
    finally queryPermits.release()
  }

  private def handlePermitted(ex: HttpExchange, allowGet: Boolean,
      contentType: String)(
      f: String => (Int, String)): Unit = {
    val out =
      try {
        val method = ex.getRequestMethod
        if (method != "POST" && !(allowGet && method == "GET"))
          (405, """{"error":"POST required"}""")
        else {
          val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
          f(body)
        }
      } catch {
        // bad-config family → 400 (the class-doc error contract): IR
        // field errors, JSON parse, lucene parse, timestamp parse, and
        // Catalyst analysis all describe the CONFIG, not the engine
        case e: IllegalArgumentException =>
          (400, s"""{"error":${QueryJsonOut.quote(msg(e))}}""")
        case e: com.fasterxml.jackson.core.JacksonException =>
          (400, s"""{"error":${QueryJsonOut.quote(msg(e))}}""")
        case e: graft.lucene.LuceneParseException =>
          (400, s"""{"error":${QueryJsonOut.quote(msg(e))}}""")
        case e: graft.metrics.PromQl.PromQlParseException =>
          (400, s"""{"error":${QueryJsonOut.quote(msg(e))}}""")
        case e: java.time.format.DateTimeParseException =>
          (400, s"""{"error":${QueryJsonOut.quote(msg(e))}}""")
        case e: org.apache.spark.sql.AnalysisException =>
          (400, s"""{"error":${QueryJsonOut.quote(msg(e))}}""")
        // unknown stream session id → the resource genuinely isn't here
        case e: NoSuchElementException =>
          (404, s"""{"error":${QueryJsonOut.quote(msg(e))}}""")
        case e: QueryTimeout =>
          (503, s"""{"error":${QueryJsonOut.quote(msg(e))}}""")
        case e: Exception =>
          (500, s"""{"error":${QueryJsonOut.quote(msg(e))}}""")
        // a Throwable (StackOverflowError from a degenerate nested
        // query, OOM) must still answer the exchange — an unanswered
        // socket hangs the client until timeout
        case t: Throwable =>
          (500, s"""{"error":${QueryJsonOut.quote(
            Option(t.getMessage).getOrElse(t.getClass.getName))}}""")
      }
    // the negotiated content type applies to the SUCCESS payload only —
    // every error body is JSON regardless of endpoint
    respond(ex, out._1, out._2,
      if (out._1 == 200) contentType else "application/json")
  }

  private def msg(e: Exception): String =
    Option(e.getMessage).getOrElse(e.toString)

  private def respond(ex: HttpExchange, code: Int, body: String,
      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }
}

/** `sbt "runMain graft.serve.Server [port]"` — serves the testdata
  * catalog at SPARK_GRAFT_SF_DIR (default sf0.001). */
object Server {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(8080)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.001")
    val spark = graft.LocalSession.get(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    val server = new Server(spark, Catalog.forDir(spark, dir), port)
    server.start()
    println(s"[serve] listening on :${server.boundPort} over $dir")
    Thread.currentThread().join()
  }
}
