package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: the benchmark's own calls, and the jobs and stages
  * Spark ran for them. Times are epoch nanoseconds. */
final case class Span(id: Long, name: String, parent: Long, startNs: Long,
    endNs: Long)

/** The per-layer ledger of a traced run. The benchmark opens spans around
  * its own calls into the program and runs their Spark work under a job
  * group naming the span; a listener the benchmark registers turns those
  * jobs and stages into child spans and sums their task metrics. Catalyst
  * phases come from a QueryExecutionListener (every action of the
  * session), codegen from Spark's CodeGenerator counters, the rest from
  * the JVM. Everything stays in memory until `write`. */
final class Ledger(spark: SparkSession) {
  private val GroupPrefix = "perfbench-span-"
  private val ids = new AtomicLong(1)
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis() * 1000000L
  def now(): Long = epochBase + (System.nanoTime() - nanoBase)

  val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[String, java.util.concurrent.atomic.DoubleAdder]()
  def add(name: String, v: Double): Unit =
    counters.computeIfAbsent(name, _ => new java.util.concurrent.atomic.DoubleAdder).add(v)
  def get(name: String): Double =
    Option(counters.get(name)).map(_.sum).getOrElse(0.0)

  def span[A](name: String, parent: Long)(body: Long => A): A = {
    val id = ids.getAndIncrement()
    val t0 = now()
    try body(id) finally spans.add(Span(id, name, parent, t0, now()))
  }

  /** Run `body` with its Spark jobs attributed to span `id`. */
  def inSpan[A](id: Long)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(GroupPrefix + id, "perfbench", interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  private final case class JobInfo(span: Long, parent: Long, startMs: Long)
  private val jobs = new ConcurrentHashMap[Int, JobInfo]()
  private val stageJob = new ConcurrentHashMap[Int, JobInfo]()
  private val executions = ConcurrentHashMap.newKeySet[String]()
  private val open = new AtomicLong(0)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val parent = group.filter(_.startsWith(GroupPrefix))
        .map(_.stripPrefix(GroupPrefix).toLong)
      // a streaming query's micro-batches run on its own thread, outside
      // any job group; the only stream a ledger meets is the benchmark's
      val streaming = props.exists(_.getProperty("sql.streaming.queryId") != null)
      if (parent.isDefined || streaming) {
        val info = JobInfo(ids.getAndIncrement(), parent.getOrElse(0L), e.time)
        jobs.put(e.jobId, info)
        e.stageIds.foreach(stageJob.put(_, info))
        open.incrementAndGet()
        add("sched.jobs", 1)
        props.flatMap(p => Option(p.getProperty("spark.sql.execution.root.id"))
          .orElse(Option(p.getProperty("spark.sql.execution.id"))))
          .foreach(executions.add)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { j =>
        spans.add(Span(j.span, "job", j.parent, j.startMs * 1000000L,
          e.time * 1000000L))
        open.decrementAndGet()
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach { j =>
        val si = e.stageInfo
        add("sched.stages", 1)
        for (s <- si.submissionTime; c <- si.completionTime)
          spans.add(Span(ids.getAndIncrement(), s"stage ${si.stageId}",
            j.span, s * 1000000L, c * 1000000L))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageJob.containsKey(e.stageId) && e.taskMetrics != null) {
        val m = e.taskMetrics
        add("sched.tasks", 1)
        add("exec.run_ms", m.executorRunTime)
        add("exec.cpu_ms", m.executorCpuTime / 1e6)
        add("exec.deser_ms", m.executorDeserializeTime)
        add("exec.gc_ms", m.jvmGCTime)
        add("sched.delay_ms", math.max(0L, e.taskInfo.duration -
          m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime))
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("scan.bytes", m.inputMetrics.bytesRead)
        add("spill.bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      add("catalyst.actions", 1)
      ph.get("analysis").foreach(p => add("catalyst.analysis_ms", p.durationMs))
      ph.get("optimization").foreach(p =>
        add("catalyst.optimize_ms", p.durationMs))
      ph.get("planning").foreach(p => add("catalyst.plan_ms", p.durationMs))
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private val codegen0 = codegenNow()
  private val gc0 = Host.gcMillis()
  private val threads = ManagementFactory.getThreadMXBean
  threads.resetPeakThreadCount()
  ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  private def codegenNow(): (Long, Double) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .compileTime / 1e6)

  /** Wait for the listener bus to deliver every job this ledger saw
    * start, then detach and freeze the process-level readings. */
  def close(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var last = -1.0
    var stable = 0
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val cur = get("sched.tasks") + get("sched.jobs") +
        get("catalyst.actions")
      stable = if (open.get() == 0 && cur == last) stable + 1 else 0
      last = cur
    }
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    val (n1, ms1) = codegenNow()
    add("codegen.classes", n1 - codegen0._1)
    add("codegen.compile_ms", ms1 - codegen0._2)
    add("sched.actions", executions.size)
    add("jvm.gc_ms", Host.gcMillis() - gc0)
    add("jvm.heap_peak_mb", ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0)
    add("jvm.threads_peak", threads.getPeakThreadCount)
  }

  /** Self time per span name: duration minus the union of its
    * children's intervals. */
  def selfTimesMs(): Map[String, Double] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.groupBy(s => if (s.name.startsWith("stage ")) "stage" else s.name)
      .map { case (name, ss) =>
        name -> ss.map { s =>
          val iv = kids.getOrElse(s.id, Nil)
            .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
            .filter(x => x._2 > x._1).sortBy(_._1)
          var covered = 0L
          var end = Long.MinValue
          iv.foreach { case (a, b) =>
            if (a > end) { covered += b - a; end = b }
            else if (b > end) { covered += b - end; end = b }
          }
          (s.endNs - s.startNs - covered) / 1e6
        }.sum
      }
  }

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map(s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

object Ledger {
  /** Every per-layer metric a traced run reports, with its unit. A layer
    * a workload bypasses reads 0. */
  val Metrics: Seq[(String, String)] = Seq(
    "serve.overhead_ms" -> "ms", "serve.bytes_out" -> "bytes",
    "serve.rows_out" -> "count", "serve.rejected" -> "count",
    "ir.parse_ms" -> "ms", "compile.build_ms" -> "ms",
    "search.windows_per_page" -> "count", "search.rows_per_window" -> "count",
    "lucene.parse_ms" -> "ms", "lucene.compile_ms" -> "ms",
    "promql.parse_ms" -> "ms", "promql.build_ms" -> "ms",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimize_ms" -> "ms",
    "catalyst.plan_ms" -> "ms",
    "codegen.classes" -> "count", "codegen.compile_ms" -> "ms",
    "sched.actions" -> "count", "sched.jobs" -> "count",
    "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.delay_ms" -> "ms",
    "exec.run_ms" -> "ms", "exec.cpu_ms" -> "ms", "exec.deser_ms" -> "ms",
    "exec.gc_ms" -> "ms", "exec.busy_frac" -> "ratio",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.fetch_wait_ms" -> "ms", "scan.bytes" -> "bytes",
    "spill.bytes" -> "bytes",
    "pipeline.build_ms" -> "ms", "pipeline.build_jobs" -> "count",
    "pipeline.run_ms" -> "ms",
    "stream.trigger_ms" -> "ms", "stream.add_batch_ms" -> "ms",
    "stream.plan_ms" -> "ms", "stream.wal_ms" -> "ms",
    "stream.rows_per_batch" -> "count", "stream.batches" -> "count",
    "stream.kept_frac" -> "ratio",
    "jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MB",
    "jvm.threads_peak" -> "count",
    "batch_s" -> "s",
    "trace.overhead_pct" -> "%")
}
