package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.LocalSession
import graft.compile.Catalog
import graft.serve.Server

/** A live engine: one session, its catalog over the fixed data, and the
  * HTTP server bound to a free port. */
final class Env(val spark: SparkSession, val catalog: Catalog,
    val server: Server) {
  def port: Int = server.boundPort
  def close(): Unit = { server.stop(); spark.stop() }
}

final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: Path, out: Path, expected: Path, mode: String)

/** What a workload hands back: metric name -> (value, unit), plus the
  * operation counts and free-form notes for the run record. */
final case class Outcome(metrics: Seq[(String, Double, String)],
    attempted: Long, failed: Long, notes: Seq[(String, String)] = Nil)

object Main {
  val Cores: Int = Runtime.getRuntime.availableProcessors()

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toInt,
      m.getOrElse("trace", "0") == "1", Paths.get(req("work")),
      Paths.get(req("out")), Paths.get(req("expected")),
      m.getOrElse("mode", "run"))
  }

  /** Session, catalog, bound server, first cold answer. Returns the
    * environment and the ms spent generating data (first run only). */
  def setUp(dataDir: Path, expected: Map[String, Seq[String]])
      : (Env, Double) = {
    val spark = LocalSession.get(Cores)
    spark.sparkContext.setLogLevel("ERROR")
    val g0 = System.nanoTime()
    Data.ensure(spark, dataDir)
    val genMs = (System.nanoTime() - g0) / 1e6
    val catalog = Catalog.forDir(spark, dataDir.toString)
    val server = new Server(spark, catalog, port = 0)
    server.start()
    val env = new Env(spark, catalog, server)
    val first = new Http(env.port).op(Grid.dashboard.head, expected)
    if (!first.forall(_.status == 200)) {
      env.close()
      throw new IllegalStateException("first answer failed")
    }
    (env, genMs)
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val args = parse(argv)
    val dataDir = args.work.resolve(s"data-v${Data.Version}")
    val dashExpected = Answers.load(args.expected.resolve("dashboard.tsv"))
    val batchExpected = Answers.load(args.expected.resolve("batch.tsv"))
    val load1Start = Host.load1()
    val jiffies0 = Host.cpuJiffies()

    // set-up is timed from JVM start: class loading, static
    // initialisation and the cold first answer all count
    val (env, genMs) = setUp(dataDir, dashExpected)
    val setUpS =
      (System.currentTimeMillis() - Host.jvmStartMillis() - genMs) / 1e3

    val outcome =
      try args.mode match {
        case "expect" =>
          val d = Expect.run(env, args)
          val b = Batch.expect(env, args, dataDir.toString)
          Outcome(Nil, d.attempted + b.attempted, d.failed + b.failed)
        case _ => (args.workload, args.trace) match {
          case ("dashboard", false) => Dashboard.run(env, args, dashExpected)
          case ("dashboard", true) => Traced.dashboard(env, args, dashExpected)
          case ("batch", false) => Batch.run(env, args, dataDir.toString,
            batchExpected)
          case ("batch", true) => Traced.batch(env, args, dataDir.toString,
            batchExpected)
          case (other, _) => throw new IllegalArgumentException(
            s"unknown workload: $other")
        }
      } finally env.close()

    // setup_s is an end-to-end metric: a traced run reports the ledger
    val setupMetric =
      if (args.trace) Nil else Seq(("setup_s", setUpS, "s"))
    val notes = outcome.notes ++ Seq(
      "steal_pct" -> Answers.num(Host.stealPct(jiffies0, Host.cpuJiffies())),
      "load1_start" -> Answers.num(load1Start),
      "load1_end" -> Answers.num(Host.load1()))
    writeResult(args.out, setupMetric ++ outcome.metrics, outcome, notes)
  }

  private def q(s: String): String = "\"" + s.replace("\\", "\\\\")
    .replace("\"", "\\\"") + "\""

  def writeResult(out: Path, metrics: Seq[(String, Double, String)],
      o: Outcome, notes: Seq[(String, String)]): Unit = {
    val ms = metrics.map { case (n, v, u) =>
      s"""${q(n)}:{"value":${Answers.num(v)},"unit":${q(u)}}"""
    }.mkString("{", ",", "}")
    val ns = notes.map { case (k, v) => s"${q(k)}:${q(v)}" }
      .mkString("{", ",", "}")
    val json = s"""{"correct":${o.failed == 0},"attempted":${o.attempted},""" +
      s""""failed":${o.failed},"metrics":$ms,"notes":$ns}"""
    Files.createDirectories(out.getParent)
    Files.write(out, (json + "\n").getBytes(UTF_8))
  }
}
