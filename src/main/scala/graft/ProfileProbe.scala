package graft

import org.apache.spark.scheduler._

/** Measurement-only probe (optimization rounds): runs named queries
  * through the bench's noop-sink methodology and prints a per-query
  * breakdown the bench line can't show — job/stage count, task count,
  * cumulative task time, shuffle bytes read/written, and the top
  * stages by wall time. No query result is produced or persisted;
  * this is the guide §1 "measure first" harness.
  *
  * Each query runs two passes, each after a cache and components-memo
  * reset, and ends with one JSON line
  * `{"query","sec","pass2_shuffle_mb","dir"}` (`sec` is the faster
  * pass) — the per-query rows of SCALE.md's scaling tables, run
  * against any data dir (e.g. the 10x synthesis of
  * scripts/make_scale10.py).
  *
  * Run: sbt "runMain graft.ProfileProbe q195_ingest_lifecycle ..."
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (32). */
object ProfileProbe {

  private final class Acc extends SparkListener {
    val stages =
      new java.util.concurrent.ConcurrentLinkedQueue[StageCompleted]()
    @volatile var jobs = 0
    case class StageCompleted(name: String, tasks: Int, wallMs: Long,
        taskMs: Long, shufReadMB: Double, shufWriteMB: Double,
        inputMB: Double, gcMs: Long = 0L, deserMs: Long = 0L)
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(
        s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      val wall = (for {
        a <- i.completionTime; b <- i.submissionTime
      } yield a - b).getOrElse(0L)
      // the SQL-stage name is an anonfun callsite; the first graft/
      // Dedup frame in the details stack names the operator
      val det = i.details.linesIterator
        .find(l => l.contains("graft.") && !l.contains("ProfileProbe"))
        .getOrElse(i.name.takeWhile(_ != '\n')).trim.take(60)
      stages.add(StageCompleted(
        det, i.numTasks, wall,
        i.taskMetrics.executorRunTime,
        i.taskMetrics.shuffleReadMetrics.totalBytesRead / 1e6,
        i.taskMetrics.shuffleWriteMetrics.bytesWritten / 1e6,
        i.taskMetrics.inputMetrics.bytesRead / 1e6,
        i.taskMetrics.jvmGCTime,
        i.taskMetrics.executorDeserializeTime))
    }
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val names =
      if (args.nonEmpty) args.toSeq else Seq("q195_ingest_lifecycle")
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = LocalSession.get(cpus)
    // same warm-up as Bench: session-level one-time costs out of band
    try {
      SparkEntry.queries.get("q1_agg").foreach(f =>
        f(spark, sfDir).write.format("noop").mode("overwrite").save())
      graft.compile.Catalog.TableNames.foreach { t =>
        spark.read.parquet(s"$sfDir/$t.parquet").write
          .format("noop").mode("overwrite").save()
      }
    } catch { case _: Throwable => () }
    import scala.jdk.CollectionConverters._
    names.foreach { n =>
      // per pass: (wall seconds, shuffle MB written, ran without error)
      val passes = (1 to 2).map { pass =>
        spark.catalog.clearCache()
        PipelineQueries.resetMemo()
        val acc = new Acc
        spark.sparkContext.addSparkListener(acc)
        spark.sparkContext.setJobDescription(s"profile:$n")
        val t0 = System.nanoTime()
        val ok =
          try {
            SparkEntry.queries(n)(spark, sfDir)
              .write.format("noop").mode("overwrite").save()
            true
          } catch { case e: Throwable =>
            println(s"[profile] $n FAILED: ${e.getMessage}")
            false
          }
        val wall = (System.nanoTime() - t0) / 1e9
        // listener events are posted async — give the bus a moment to
        // drain before reading the accumulator (measurement-only slack)
        Thread.sleep(500)
        spark.sparkContext.removeSparkListener(acc)
        val st = acc.stages.asScala.toSeq
        val taskSec = st.map(_.taskMs).sum / 1e3
        val stageWallSec = st.map(_.wallMs).sum / 1e3
        val shufWriteMB = st.map(_.shufWriteMB).sum
        println(f"[profile] $n pass$pass wall=$wall%.2fs jobs=${acc.jobs}" +
          f" stages=${st.size} tasks=${st.map(_.tasks).sum}" +
          f" taskTime=$taskSec%.2fs stageWallSum=$stageWallSec%.2fs" +
          f" shufRead=${st.map(_.shufReadMB).sum}%.1fMB" +
          f" shufWrite=$shufWriteMB%.1fMB" +
          f" input=${st.map(_.inputMB).sum}%.1fMB" +
          f" gc=${st.map(_.gcMs).sum / 1e3}%.2fs" +
          f" deser=${st.map(_.deserMs).sum / 1e3}%.2fs")
        if (pass == 2)
          st.sortBy(-_.wallMs).take(12).foreach { s =>
            println(f"    stage ${s.name}%-40s tasks=${s.tasks}%4d " +
              f"wall=${s.wallMs / 1e3}%6.2fs task=${s.taskMs / 1e3}%6.2fs " +
              f"sr=${s.shufReadMB}%8.2fMB sw=${s.shufWriteMB}%8.2fMB")
          }
        (wall, shufWriteMB, ok)
      }
      if (passes.forall(_._3))
        println(f"""{"query":"$n","sec":${passes.map(_._1).min}%.3f,""" +
          f""""pass2_shuffle_mb":${passes.last._2}%.1f,"dir":"$sfDir"}""")
    }
    spark.stop()
  }
}
