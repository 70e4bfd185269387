package perfbench

import java.time.Instant

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.compile.{QueryCompiler, SearchExecutor}
import graft.ir.Cond
import graft.lucene.{FieldResolver, LuceneCompiler, LuceneContext, LuceneParser}
import graft.metrics.PromQl
import graft.serve.{PromApi, QueryJson}

/** Traced runs: each workload once more with the ledger attached, on a
  * fixed operation list, so counts repeat exactly between two
  * single-client runs. Values are totals over the traced pass, except
  * the per-unit figures (`serve.overhead_ms` and `search.*` per request or
  * page, `catalyst.*` per action, `stream.*_ms` and `stream.rows_per_batch`
  * per micro-batch, ratios, peaks and percentiles). Tracing overhead is
  * the traced pass against an untraced pass of the same work. */
object Traced {
  /** Dashboard: one client, a fixed warm-up, then the first `DashOps`
    * requests of the seeded sequence: the first half untraced, all of them
    * traced with an in-process replay of each request (pass B), the second
    * half untraced. The untraced halves sit on both sides of pass B, so
    * warm-up drift cancels in the overhead. */
  val DashWarmOps = 20
  val DashOps: Int = 2 * Grid.DeckSize

  def metrics(l: Ledger, extra: Map[String, Double])
      : Seq[(String, Double, String)] = {
    val actions = math.max(1.0, l.get("catalyst.actions"))
    val perAction = Set("catalyst.analysis_ms", "catalyst.optimize_ms",
      "catalyst.plan_ms")
    Ledger.Metrics.map { case (n, u) =>
      val v = extra.getOrElse(n,
        if (perAction(n)) l.get(n) / actions else l.get(n))
      (n, v, u)
    }
  }

  private def params(path: String): Map[String, String] =
    path.split('?')(1).split('&').map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> java.net.URLDecoder.decode(v, "UTF-8")
    }.toMap

  /** Replay one page in process through the program's public entry
    * points; returns the replay's own time (the lucene and PromQL
    * parse/build spans repeat work the entry points do, and are timed
    * for the ledger only). */
  private def replay(env: Env, l: Ledger, r: Req, cursor: Option[String],
      parent: Long): Double = l.span("replay", parent) { id =>
    def timed[A](name: String)(body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = l.span(name, id)(sid => l.inSpan(sid)(body))
      val ms = (System.nanoTime() - t0) / 1e6
      l.add(s"${name}_ms", ms)
      (a, ms)
    }
    r.kind match {
      case "promql" =>
        val p = params(r.path)
        val step = p("step").toLong
        val df = env.catalog("metrics").df
        timed("promql.parse")(PromQl.parse(p("query")))
        timed("promql.build")(PromQl.eval(df, p("query"), step))
        timed("execute")(PromApi.queryRange(df, p("query"),
          Instant.parse(p("start")), Instant.parse(p("end")), step,
          100000))._2
      case kind =>
        val (q, parseMs) = timed("ir.parse")(
          QueryJson.parseQuery(Http.withCursor(r.body, cursor)))
        q.where.foreach {
          case Cond.Lucene(lq) =>
            val src = env.catalog(q.from)
            timed("lucene.parse")(LuceneParser.parse(lq))
            timed("lucene.compile")(LuceneCompiler.compile(lq,
              LuceneContext(new FieldResolver(src.df.schema,
                src.jsonStringColumns), src.implicitSearchColumn)))
          case _ => ()
        }
        val (df, buildMs) = timed("compile.build")(
          QueryCompiler.compile(q, env.catalog))
        if (kind == "query")
          parseMs + buildMs + timed("execute")(
            df.limit(100001).toJSON.collect())._2
        else {
          val (page, pageMs) = timed("search.paginate")(
            SearchExecutor.paginateCursor(q, env.catalog, cursor))
          l.add("search.pages", 1)
          l.add("search.windows", page.windowsScanned)
          l.add("search.rows", page.rows.length)
          parseMs + buildMs + pageMs + timed("render")(
            if (page.rows.isEmpty) Array.empty[String]
            else env.spark.createDataFrame(page.rows.toSeq.asJava, df.schema)
              .toJSON.collect())._2
        }
    }
  }

  def dashboard(env: Env, args: Args, expected: Map[String, Seq[String]])
      : Outcome = {
    val http = new Http(env.port)
    (Grid.dashboard ++ Grid.dashboard ++
      Grid.sequence(args.seed ^ 0x5eedL).take(DashWarmOps))
      .foreach(http.op(_, expected))
    val ops = Grid.sequence(args.seed).take(DashOps).toVector
    val a0 = System.nanoTime()
    def plain(range: Range): Seq[(Int, Sample)] =
      range.flatMap(i => http.op(ops(i), expected).map(i -> _))
    val passA1 = plain(0 until DashOps / 2)
    val aS = (System.nanoTime() - a0) / 1e9

    val l = new Ledger(env.spark)
    val passB = ArrayBuffer.empty[(Int, Sample)]
    val overhead = ArrayBuffer.empty[Double]
    var replayMs = 0.0
    ops.zipWithIndex.foreach { case (r, i) =>
      l.span("op", 0) { opId =>
        var cursor: Option[String] = None
        (0 until r.pages).foreach { p =>
          // alternate which path runs first, so neither always meets the
          // other's warm caches
          def viaHttp() = l.span("http", opId)(_ =>
            http.page(r, p, cursor, expected))
          val (rep, (s, next)) =
            if (i % 2 == 0) { val h = viaHttp(); (replay(env, l, r, cursor, opId), h) }
            else { val rp = replay(env, l, r, cursor, opId); (rp, viaHttp()) }
          passB += i -> s
          overhead += s.ms - rep
          replayMs += rep
          cursor = next
        }
      }
    }
    l.close()
    val passA = passA1 ++ plain(DashOps / 2 until DashOps)
    l.write(args.out.resolveSibling(args.out.getFileName + ".spans.jsonl"))
    val traced = passB.map(_._2)
    val all = passA.map(_._2) ++ traced
    // the overhead compares the operations whose HTTP request ran before
    // their replay (even ones) with the same operations untraced: a
    // request sent after its own replay meets warm caches
    def even(xs: Seq[(Int, Sample)]) = xs.collect {
      case (i, s) if i % 2 == 0 => s.ms }
    val evenA = even(passA)
    val evenB = even(passB.toSeq)
    val failed = all.count(!_.ok)
    val pages = math.max(1.0, l.get("search.pages"))
    val extra = Map(
      "serve.overhead_ms" -> Host.median(overhead.toSeq),
      "serve.bytes_out" -> traced.map(_.bytes.toDouble).sum,
      "serve.rows_out" -> traced.map(_.rows.toDouble).sum,
      "serve.rejected" -> all.count(s => s.status == 429 || s.status == 503)
        .toDouble,
      "search.windows_per_page" -> l.get("search.windows") / pages,
      "search.rows_per_window" ->
        l.get("search.rows") / math.max(1.0, l.get("search.windows")),
      "exec.busy_frac" -> l.get("exec.run_ms") / (replayMs * Main.Cores),
      "trace.overhead_pct" ->
        (Host.median(evenB) / Host.median(evenA) - 1) * 100)
    Outcome(metrics(l, extra), all.size, failed,
      Seq("first_half_s" -> Answers.num(aS),
        "self_ms" -> l.selfTimesMs().toSeq.sorted
          .map { case (n, ms) => s"$n=${Answers.num(ms)}" }.mkString(" ")))
  }

  def batch(env: Env, args: Args, dir: String,
      expected: Map[String, Seq[String]]): Outcome = {
    val spark = env.spark
    val (wrong, rows) = Batch.check(spark, dir, args.work, expected)
    def plainPass(): Double = {
      Batch.resetPass(spark)
      val a0 = System.nanoTime()
      Batch.Jobs.foreach(n => Batch.build(spark, dir, args.work, n).run())
      (System.nanoTime() - a0) / 1e9
    }
    val a1S = plainPass()

    Batch.resetPass(spark)
    val l = new Ledger(spark)
    val b0 = System.nanoTime()
    val progress = ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    val perJob = Batch.Jobs.map { n =>
      l.span(s"job:$n", 0) { jid =>
        val t0 = System.nanoTime()
        val b = l.span("pipeline.build", jid)(s =>
          l.inSpan(s)(Batch.build(spark, dir, args.work, n)))
        val t1 = System.nanoTime()
        l.span("pipeline.run", jid)(s => l.inSpan(s)(b.run()))
        progress ++= b.progress
        (n, (t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6)
      }
    }
    val bS = (System.nanoTime() - b0) / 1e9
    l.close()
    // plain passes on both sides of the traced one, so warm-up drift
    // cancels in the overhead
    val aS = (a1S + plainPass()) / 2
    l.write(args.out.resolveSibling(args.out.getFileName + ".spans.jsonl"))
    val spans = l.spans.asScala.toSeq
    val byId = spans.map(s => s.id -> s).toMap
    def jobsUnder(kind: String, job: String): Int = spans.count(s =>
      s.name == "job" && byId.get(s.parent).exists(p => p.name == kind &&
        byId.get(p.parent).exists(_.name == s"job:$job")))
    val extra = Map(
      "pipeline.build_ms" -> perJob.map(_._2).sum,
      "pipeline.build_jobs" ->
        Batch.Jobs.map(jobsUnder("pipeline.build", _)).sum.toDouble,
      "pipeline.run_ms" -> perJob.map(_._3).sum,
      "exec.busy_frac" -> l.get("exec.run_ms") / (bS * 1000 * Main.Cores),
      "batch_s" -> aS,
      // kept documents of the ingest job's feed, from the checking pass
      "stream.kept_frac" -> rows.getOrElse(Batch.IngestJob, 0L).toDouble /
        (Batch.IngestBatches * Batch.IngestDocs),
      "trace.overhead_pct" -> (bS / aS - 1) * 100) ++
      Batch.streamMetrics(progress.toSeq)
    Outcome(metrics(l, extra), Batch.Jobs.size * 4, wrong.size,
      Seq("wrong_jobs" -> wrong.mkString(" "),
        "per_job" -> perJob.map { case (n, b, r) =>
          s"$n:build_ms=${Answers.num(b)},build_jobs=" +
            s"${jobsUnder("pipeline.build", n)},run_ms=${Answers.num(r)}," +
            s"run_jobs=${jobsUnder("pipeline.run", n)}"
        }.mkString(" ")))
  }
}
