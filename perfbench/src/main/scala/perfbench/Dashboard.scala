package perfbench

/** The `dashboard` workload: closed-loop HTTP clients over the grid. */
object Dashboard {
  /** Latency figures over measured requests; a failed request counts as
    * slower than every correct one. */
  def latencyMetrics(samples: Seq[Sample], seconds: Double)
      : Seq[(String, Double, String)] = {
    def lat(xs: Seq[Sample]) =
      xs.map(s => if (s.ok) s.ms else Double.PositiveInfinity)
    val all = lat(samples)
    def famP50(k: String) = {
      val xs = lat(samples.filter(_.kind == k))
      (s"${k}_p50_ms", if (xs.isEmpty) -1.0 else Host.pct(xs, 0.5), "ms")
    }
    Seq(("req_p50_ms", Host.pct(all, 0.5), "ms"),
      ("req_p90_ms", Host.pct(all, 0.9), "ms"),
      ("req_p99_ms", Host.pct(all, 0.99), "ms"),
      ("req_per_s", samples.count(_.ok) / seconds, "1/s"),
      famP50("query"), famP50("search"), famP50("promql"))
  }

  val ClientCount: Int = Main.Cores
  val MinDecks = 5

  /** Warm up until two consecutive decks agree, then measure whole decks,
    * at least `MinDecks` and at least `--seconds`, so every run measures
    * the same request mix. */
  def run(env: Env, args: Args, expected: Map[String, Seq[String]])
      : Outcome = {
    val c = new Clients(env.port, expected, args.seed, ClientCount)
    c.start()
    val (warmS, lastWarm) = Clients.warmUp(c, tolerance = 0.1, maxS = 14)
    val cpu0 = Host.processCpuMs()
    val c0 = System.nanoTime()
    val first = lastWarm + 1
    val (t0, firstEnd) = c.awaitDeck(first)
    var last = first
    var end = firstEnd
    while (last - first + 1 < MinDecks ||
        end - t0 < args.seconds * 1000000000L) {
      last += 1
      end = c.awaitDeck(last)._2
    }
    val cpu1 = Host.processCpuMs()
    val c1 = System.nanoTime()
    c.finish()
    val heapMb = Host.heapLiveMb()
    val measured = c.inDecks(first, last)
    val secs = (end - t0) / 1e9
    val failed = measured.count(!_.ok)
    val bad = measured.filterNot(_.ok).take(5)
      .map(s => s"${s.id}#${s.page}:${s.status}").mkString(" ")
    val figures = latencyMetrics(measured, secs)
    val ok = measured.count(_.ok)
    Outcome(Seq(
      ("latency_ms", figures.head._2, "ms"),
      ("throughput_per_s", ok / secs, "1/s"),
      ("cpu_ms_per_op", (cpu1 - cpu0) / math.max(1, c.completedIn(c0, c1)
        .count(_.ok)), "ms"),
      ("heap_live_mb", heapMb, "MB")),
      measured.size, failed,
      Seq("warmup_s" -> Answers.num(warmS),
        "rss_peak_mb" -> Answers.num(Host.rssPeakMb()),
        "decks" -> s"${last - first + 1} measured after ${lastWarm + 1}",
        "failed_examples" -> bad) ++
        figures.map { case (n, v, _) => n -> Answers.num(v) })
  }
}
