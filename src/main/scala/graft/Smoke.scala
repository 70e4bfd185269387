package graft

import org.apache.spark.sql.SparkSession

import graft.compile.QueryCompiler
import graft.ir._

/** Local smoke main mirroring the driver's t1 check (entry rows>0) plus a
  * few edge probes on the lucene front end. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession.get(8)

    val e = SparkEntry.entry(spark)
    val rows = e.collect()
    println(s"[smoke] entry rows=${rows.length}")
    rows.take(5).foreach(r => println(s"[smoke]   $r"))

    val cat = Queries.cat(spark, "/root/testdata/sf0.001")
    def probe(name: String, q: Query): Unit =
      try {
        val rows = QueryCompiler.compile(q, cat).collect()
        println(s"[smoke] probe $name -> ${rows.mkString("; ")}")
      } catch {
        case ex: Exception =>
          println(s"[smoke] probe $name -> ${ex.getClass.getSimpleName}: " +
            ex.getMessage.linesIterator.next())
      }
    val cnt = Seq(SelectItem("", Some("cnt"), Some(AggFn.Count)))
    // unknown field → lit(false) → 0 rows, no crash
    probe("unknown-field", Query(cnt, "events",
      where = Some(Cond.Lucene("nosuchfield:foo"))))
    // empty lucene query → no-op filter
    probe("empty-query", Query(cnt, "events",
      where = Some(Cond.Lucene("   "))))
    // unbalanced paren → parse error surfaced
    probe("bad-syntax", Query(cnt, "events",
      where = Some(Cond.Lucene("(event_type:error"))))
    // negation + OR + range + json path
    probe("combo", Query(cnt, "events", where = Some(Cond.Lucene(
      "NOT event_type:click (value:[10 TO 200] OR props.k:>=90)"))))
    // quoted phrase on implicit column
    probe("phrase", Query(cnt, "events",
      where = Some(Cond.Lucene("\"purch\""))))

    // sample-weighted aggregation: events re-bound with user_id as a fake
    // SampleRate weight — count must equal sum of weights, not row count
    val weighted = cat.withSource("weighted_events",
      cat("events").copy(sampleWeightExpression = Some("user_id + 1")))
    val wq = Query(Seq(
      SelectItem("", Some("wcnt"), Some(AggFn.Count)),
      SelectItem("value", Some("wp50"), Some(AggFn.Quantile(0.5)))),
      from = "weighted_events")
    val wrow = QueryCompiler.compile(wq, weighted).collect().head
    println(s"[smoke] weighted count=${wrow.get(0)} p50=${wrow.get(1)}")

    // alert evaluation end-to-end over the real testdata: daily error
    // counts vs threshold, 3-window lookback at a pinned clock
    import graft.analysis.{AlertRunner, Alerts}
    val alert = AlertRunner.evaluate(cat, AlertRunner.AlertConfig(
      source = "events",
      where = Some(Cond.Lucene("event_type:error")),
      intervalMinutes = 1440,
      threshold = 5,
      thresholdType = Alerts.ThresholdType.Above,
      numConsecutiveWindows = 3),
      java.time.Instant.parse("2024-01-16T00:00:30Z"))
    alert.foreach(r => println(s"[smoke] alert state=${r.state} " +
      s"windows=${r.windowValues.map(w => w._1 + "=" + w._2).mkString(",")}"))

    // progressive search: newest-first page over the full range must be
    // satisfied without scanning every ladder window
    val page = graft.compile.SearchExecutor.paginateCursor(Query(
      select = Seq(SelectItem("event_id", Some("event_id"), None)),
      from = "events",
      dateRange = Some(QueryCompiler.range(
        "2024-01-01T00:00:00Z", "2024-03-01T00:00:00Z")),
      orderBy = Seq(OrderBy("ts", desc = true)),
      limit = Some(20)), cat)
    println(s"[smoke] paginate: rows=${page.rows.length} " +
      s"windowsScanned=${page.windowsScanned}")

    // catalog memoization must key on the data dir: same session, two dirs
    val n1 = Queries.cat(spark, "/root/testdata/sf0.001")("events").df.count()
    val n2 = Queries.cat(spark, "/root/testdata/sf0.01")("events").df.count()
    println(s"[smoke] catalog cache: sf0.001 events=$n1, sf0.01 events=$n2")

    // the HTTP serving boundary, over a real socket: config in, rows out
    val server = new graft.serve.Server(spark,
      Queries.cat(spark, "/root/testdata/sf0.001"), port = 0)
    server.start()
    try {
      val con = new java.net.URI(
        s"http://127.0.0.1:${server.boundPort}/query").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      con.setRequestMethod("POST")
      con.setDoOutput(true)
      val body =
        """{"from":"events","select":[{"valueExpression":"*",""" +
          """"aggFn":"count","alias":"n"}],"groupBy":["event_type"]}"""
      con.getOutputStream.write(
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // status first: a non-2xx makes getInputStream THROW, which would
      // lose exactly the diagnostic this probe exists to print
      val code = con.getResponseCode
      val stream =
        if (code >= 200 && code < 300) con.getInputStream
        else con.getErrorStream
      val resp = new String(stream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      val nRows = "\"n\":".r.findAllIn(resp).length
      println(s"[smoke] serve: http=$code rows=$nRows" +
        (if (code >= 300) s" body=${resp.take(200)}" else ""))

      // progressive search over the wire: two pages through the
      // cursor — the reference's paginated search entry point
      def postSearch(extra: String): (Int, String) = {
        val c = new java.net.URI(
          s"http://127.0.0.1:${server.boundPort}/search").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        c.setRequestMethod("POST")
        c.setDoOutput(true)
        val b =
          """{"from":"events","select":[{"valueExpression":""" +
            """"event_id","aggFn":"none"}],""" +
            """"orderBy":[{"expression":"ts","desc":true},""" +
            """{"expression":"event_id"}],"limit":25,""" +
            """"dateRange":{"from":"2024-01-01T00:00:00Z",""" +
            """"to":"2024-01-31T00:00:00Z"}""" + extra + "}"
        c.getOutputStream.write(
          b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val sc = c.getResponseCode
        val st = if (sc >= 200 && sc < 300) c.getInputStream
          else c.getErrorStream
        (sc, new String(st.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8))
      }
      val (s1c, s1b) = postSearch("")
      val s1n = "\"event_id\":".r.findAllIn(s1b).length
      val s1w = "\"windowsScanned\":(\\d+)".r
        .findFirstMatchIn(s1b).map(_.group(1)).getOrElse("?")
      val s1cur = "\"next\":\"([^\"]+)\"".r
        .findFirstMatchIn(s1b).map(_.group(1))
      val (s2c, s2b) = s1cur match {
        case Some(cur) => postSearch(s""","cursor":"$cur"""")
        case None => (0, "")
      }
      val s2n = "\"event_id\":".r.findAllIn(s2b).length
      println(s"[smoke] search: http=$s1c rows=$s1n windows=$s1w " +
        s"page2http=$s2c page2rows=$s2n" +
        (if (s1c >= 300) s" body=${s1b.take(200)}" else ""))

      // parallel dashboard fan-out through ONE server: 6 concurrent
      // /query requests (within the default 7-permit cap) — all must
      // answer 200, and the wall must not degrade to serial (the
      // reference runs split chart queries in parallel;
      // clickhouse/index.ts:823-875)
      {
        val codes =
          new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
        val t0 = System.nanoTime()
        val threads = (0 until 6).map { i =>
          val t = new Thread(() => {
            val c = new java.net.URI(
              s"http://127.0.0.1:${server.boundPort}/query").toURL
              .openConnection().asInstanceOf[java.net.HttpURLConnection]
            c.setRequestMethod("POST")
            c.setDoOutput(true)
            c.getOutputStream.write(
              body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            codes.add(c.getResponseCode)
            val st = if (c.getResponseCode < 300) c.getInputStream
              else c.getErrorStream
            st.readAllBytes()
            ()
          }, s"smoke-fanout-$i")
          t.start(); t
        }
        threads.foreach(_.join(60000))
        val wall = (System.nanoTime() - t0) / 1e9
        import scala.jdk.CollectionConverters._
        val ok = codes.asScala.count(_ == 200)
        println(f"[smoke] parallel: n=6 ok=$ok wall=$wall%.2fs")
        require(ok == 6, s"parallel fan-out: only $ok of 6 answered 200")
      }

      // the Prometheus face end-to-end (query_range + instant query +
      // label values): a Grafana datasource's first three calls — and
      // the class of bug a happy-path unit fixture can't see (round 8's
      // boundary-starved instant bucket survived PromApiSpec's original
      // alignment). Each must come back 200 AND non-empty.
      def promGet(pathAndQuery: String): (Int, String) = {
        val c = new java.net.URI(
          s"http://127.0.0.1:${server.boundPort}$pathAndQuery").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        val code = c.getResponseCode
        val s = if (code >= 200 && code < 300) c.getInputStream
          else c.getErrorStream
        (code, new String(s.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8))
      }
      val q = java.net.URLEncoder.encode(
        "sum by (ServiceName) (value)",
        java.nio.charset.StandardCharsets.UTF_8)
      val (rc, rb) = promGet(s"/promql/query_range?query=$q" +
        "&start=2024-01-01T00:00:00Z&end=2024-01-08T00:00:00Z&step=86400")
      val rSamples = """\[\d+,"""".r.findAllIn(rb).length
      println(s"[smoke] prom range: http=$rc samples=$rSamples" +
        (if (rc >= 300 || rSamples == 0) s" body=${rb.take(200)}" else ""))
      val (ic, ib) = promGet(s"/promql/query?query=$q" +
        "&time=2024-01-02T00:00:00Z&step=86400")
      val iSamples = """"value":\[""".r.findAllIn(ib).length
      println(s"[smoke] prom instant: http=$ic vector=$iSamples" +
        (if (ic >= 300 || iSamples == 0) s" body=${ib.take(200)}" else ""))
      val (lc, lb) = promGet("/promql/label/ServiceName/values")
      val lVals = """"[^"]+"""".r.findAllIn(
        lb.replaceAll("""^.*"data":\[""", "")).length
      println(s"[smoke] prom labels: http=$lc values=$lVals" +
        (if (lc >= 300 || lVals == 0) s" body=${lb.take(200)}" else ""))
      val (sc2, sb) = promGet("/promql/series?match%5B%5D=" +
        java.net.URLEncoder.encode("""value{ServiceName="click"}""",
          java.nio.charset.StandardCharsets.UTF_8))
      val sSets = """\{"__name__"""".r.findAllIn(sb).length
      println(s"[smoke] prom series: http=$sc2 sets=$sSets" +
        (if (sc2 >= 300 || sSets == 0) s" body=${sb.take(200)}" else ""))
      require(rc == 200 && rSamples > 0, "prom query_range empty")
      require(ic == 200 && iSamples > 0, "prom instant query empty")
      require(lc == 200 && lVals > 0, "prom label values empty")
      require(sc2 == 200 && sSets > 0, "prom series empty")

      // the exact sequence a stock Grafana Prometheus datasource
      // issues on save, against the /api/v1 alias it hardcodes: an
      // instant `1+1` health check with time+timeout, then /labels —
      // the probe that catches prefix or param regressions no unit
      // fixture drives
      val now = java.time.Instant.now().getEpochSecond
      val (hc, hb) = promGet("/api/v1/query?query=" +
        java.net.URLEncoder.encode("1+1",
          java.nio.charset.StandardCharsets.UTF_8) +
        s"&time=$now&timeout=10s")
      println(s"[smoke] grafana health: http=$hc" +
        (if (hc >= 300) s" body=${hb.take(200)}" else ""))
      require(hc == 200 && hb.contains(""""resultType":"scalar"""") &&
        hb.contains("\"2\""), s"grafana health check failed: $hb")
      val (nc, nb) = promGet("/api/v1/labels")
      val nNames = """"[^"]+"""".r.findAllIn(
        nb.replaceAll("""^.*"data":\[""", "")).length
      println(s"[smoke] grafana labels: http=$nc names=$nNames" +
        (if (nc >= 300 || nNames == 0) s" body=${nb.take(200)}" else ""))
      require(nc == 200 && nNames > 0, "grafana /api/v1/labels empty")

      // the streaming lifecycle face end-to-end: start a SpaceSaving
      // heavy-hitters stream over HTTP, feed a skewed window, advance
      // the watermark past its end, poll the emitted top-k — the
      // flatMapGroupsWithState operator running inside a REAL
      // StreamingQuery, driven entirely through the server
      def post(path: String, body: String): (Int, String) = {
        val c = new java.net.URI(
          s"http://127.0.0.1:${server.boundPort}$path").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        c.setRequestMethod("POST")
        c.setDoOutput(true)
        c.getOutputStream.write(
          body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val code = c.getResponseCode
        val s = if (code >= 200 && code < 300) c.getInputStream
          else c.getErrorStream
        (code, new String(s.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8))
      }
      val (stc, stb) = post("/stream/start",
        """{"op":"heavy_hitters","params":{"window":"60","capacity":"8","k":"3"}}""")
      require(stc == 200, s"stream start failed: $stb")
      val sid = """"id":"([^"]+)"""".r.findFirstMatchIn(stb)
        .map(_.group(1)).getOrElse("")
      // window [0,60): 5×a, 3×b, 1×c — then two watermark pushes
      val evts = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c"))
        .map(k => s"""[10,"$k",1.0]""").mkString(",")
      val (f1, _) = post("/stream/feed",
        s"""{"id":"$sid","rows":[$evts]}""")
      val (f2, _) = post("/stream/feed",
        s"""{"id":"$sid","rows":[[300,"z",1.0]]}""")
      val (f3, f3b) = post("/stream/feed",
        s"""{"id":"$sid","rows":[[600,"z",1.0]]}""")
      require(f1 == 200 && f2 == 200 && f3 == 200,
        s"stream feed failed: $f3b")
      val (pc, pb) = post("/stream/poll", s"""{"id":"$sid"}""")
      val ranks = """"rank":""".r.findAllIn(pb).length
      println(s"[smoke] stream heavy_hitters: http=$pc emitted=$ranks" +
        (if (pc >= 300 || ranks == 0) s" body=${pb.take(300)}" else ""))
      // ≥ 3 ranks: window 0's top-3 plus the watermark-push key's own
      // later window(s)
      require(pc == 200 && ranks >= 3 &&
        pb.contains(""""key":"a","cnt":5""") &&
        pb.contains(""""key":"b","cnt":3"""),
        s"stream heavy_hitters wrong emit: ${pb.take(400)}")
      val (xc, _) = post("/stream/stop", s"""{"id":"$sid"}""")
      require(xc == 200, "stream stop failed")

      // EWMA control chart over the same face: two buckets around a
      // pinned target, the second far enough off-target to alarm
      val (ec, eb) = post("/stream/start",
        """{"op":"ewma","params":{"step":"60","lambda":"1.0","width":"3","target":"10","sigma":"1"}}""")
      require(ec == 200, s"ewma start failed: $eb")
      val eid = """"id":"([^"]+)"""".r.findFirstMatchIn(eb)
        .map(_.group(1)).getOrElse("")
      post("/stream/feed",
        s"""{"id":"$eid","rows":[[10,"svc",10.5],[70,"svc",99.0]]}""")
      post("/stream/feed", s"""{"id":"$eid","rows":[[300,"svc",0.0]]}""")
      post("/stream/feed", s"""{"id":"$eid","rows":[[600,"svc",0.0]]}""")
      val (epc, epb) = post("/stream/poll", s"""{"id":"$eid"}""")
      val alarms = """"alarm":1""".r.findAllIn(epb).length
      val charted = """"z":""".r.findAllIn(epb).length
      println(s"[smoke] stream ewma: http=$epc rows=$charted " +
        s"alarms=$alarms" +
        (if (epc >= 300 || charted == 0) s" body=${epb.take(300)}"
         else ""))
      require(epc == 200 && charted >= 2 && alarms >= 1,
        s"ewma stream wrong emit: ${epb.take(400)}")
      post("/stream/stop", s"""{"id":"$eid"}""")

      // crawl-novelty monitor over the same face: a fresh doc then
      // its exact recrawl — TEXT values through the wire
      val (nc0, nb0) = post("/stream/start",
        """{"op":"novelty","params":{"window":"60","gram":"2"}}""")
      require(nc0 == 200, s"novelty start failed: $nb0")
      val nid = """"id":"([^"]+)"""".r.findFirstMatchIn(nb0)
        .map(_.group(1)).getOrElse("")
      post("/stream/feed",
        s"""{"id":"$nid","rows":[[5,"s","a b c"],[10,"s","a b c"]]}""")
      post("/stream/feed", s"""{"id":"$nid","rows":[[300,"wm","x y"]]}""")
      post("/stream/feed", s"""{"id":"$nid","rows":[[600,"wm","x y"]]}""")
      val (npc, npb) = post("/stream/poll", s"""{"id":"$nid"}""")
      println(s"[smoke] stream novelty: http=$npc " +
        s"halfNovel=${npb.contains("\"novelty_est\":0.5")}" +
        (if (npc >= 300) s" body=${npb.take(300)}" else ""))
      require(npc == 200 &&
        npb.contains(""""n_grams":4,"n_novel_est":2"""),
        s"novelty stream wrong emit: ${npb.take(400)}")
      post("/stream/stop", s"""{"id":"$nid"}""")
    } finally server.stop()
    spark.stop()
  }
}
