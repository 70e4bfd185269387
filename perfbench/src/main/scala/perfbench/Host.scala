package perfbench

import java.lang.management.ManagementFactory

/** Process and host readings: CPU time, peak RSS, steal, load, and the
  * order statistics the metrics use. */
object Host {
  private def readFile(path: String): Option[String] =
    try {
      val src = scala.io.Source.fromFile(path)
      try Some(src.mkString) finally src.close()
    } catch { case _: Exception => None }

  /** Aggregate /proc/stat cpu jiffies: (total, steal). */
  def cpuJiffies(): Option[(Long, Long)] =
    readFile("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu ")))
      .map { line =>
        val f = line.trim.split("\\s+").drop(1).map(_.toLong)
        (f.take(8).sum, if (f.length > 7) f(7) else 0L)
      }

  def stealPct(from: Option[(Long, Long)], to: Option[(Long, Long)])
      : Double = (from, to) match {
    case (Some((t0, s0)), Some((t1, s1))) if t1 > t0 =>
      (s1 - s0) * 100.0 / (t1 - t0)
    case _ => -1.0
  }

  def load1(): Double = readFile("/proc/loadavg")
    .flatMap(_.split("\\s+").headOption).map(_.toDouble).getOrElse(-1.0)

  /** Peak resident set size of this process (VmHWM), in MB. */
  def rssPeakMb(): Double = readFile("/proc/self/status")
    .flatMap(_.linesIterator.find(_.startsWith("VmHWM:")))
    .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** Heap still in use after a full collection, in MB: what the program
    * holds, whatever size the collector let the heap grow to. Spark's
    * cleaner frees the blocks of broadcasts the first collection found
    * unreachable, so a second collection follows after it has run. */
  def heapLiveMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** CPU time of the whole process (all threads), in ms. */
  def processCpuMs(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getProcessCpuTime / 1e6
      case _ => -1.0
    }

  def jvmStartMillis(): Long =
    ManagementFactory.getRuntimeMXBean.getStartTime

  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Nearest-rank percentile, `p` in (0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
