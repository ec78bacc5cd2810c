package perfbench

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Session construction and ambient-load probes. */
object Env {

  /** The same session configuration `graft.Bench` times under: shuffle
    * scratch goes where the engine puts its own (`GraftSession.scratchRoot`,
    * a tmpfs when one is writable), the warehouse under `work`. */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", cores)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", GraftSession.scratchRoot)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def firstLine(path: String): Option[String] =
    try {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().toSeq.headOption finally src.close()
    } catch { case _: java.io.IOException => None }

  def loadavg: Double =
    firstLine("/proc/loadavg").map(_.split(" ")(0).toDouble).getOrElse(-1.0)

  /** (system busy jiffies, this process's jiffies); -1 when unreadable.
    * Busy counts user, nice, system, irq, softirq and steal. */
  def jiffies(): (Long, Long) = {
    val sys = firstLine("/proc/stat").map { l =>
      val f = l.trim.split("\\s+")
      Seq(1, 2, 3, 6, 7, 8).map(i => if (i < f.length) f(i).toLong else 0L).sum
    }.getOrElse(-1L)
    val own = firstLine("/proc/self/stat").map { l =>
      val rest = l.substring(l.lastIndexOf(')') + 2).split(" ")
      rest(11).toLong + rest(12).toLong
    }.getOrElse(-1L)
    (sys, own)
  }

  /** CPU cores burned by other processes between two [[jiffies]] samples
    * taken `seconds` apart (USER_HZ = 100). */
  def ambientCores(a: (Long, Long), b: (Long, Long), seconds: Double): Double =
    if (a._1 < 0 || a._2 < 0 || b._1 < 0 || b._2 < 0 || seconds <= 0) -1.0
    else math.max(0.0, ((b._1 - a._1) - (b._2 - a._2)) / (seconds * 100.0))

  /** Jiffies the hypervisor gave to other guests while this machine's
    * CPUs wanted to run (the steal column of /proc/stat); -1 when
    * unreadable. Part of what [[ambientCores]] counts. */
  def stealJiffies(): Long =
    firstLine("/proc/stat").map(_.trim.split("\\s+")).filter(_.length > 8)
      .map(_(8).toLong).getOrElse(-1L)

  /** Resident-set high-water mark of this process, MiB. */
  /** Seconds since the JVM started. */
  def uptimeS: Double = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def peakRssMiB: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Quantile by linear interpolation between order statistics (the
    * "inclusive" method): steadier than nearest rank on a 27-query pass. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = q * (s.size - 1)
      val lo = math.floor(h).toInt
      s(lo) + (h - lo) * (s(math.min(lo + 1, s.size - 1)) - s(lo))
    }
}
