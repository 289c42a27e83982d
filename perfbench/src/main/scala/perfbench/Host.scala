package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Host and JVM readings: CPU steal from `/proc/stat` (time the shared
  * machine took from this guest), GC time, and retained heap. */
object Host {
  /** (steal ticks, total ticks) of the aggregate `cpu` line; (0, 0)
    * where `/proc/stat` is unavailable. */
  def cpuTicks(): (Long, Long) = {
    val f = new java.io.File("/proc/stat")
    if (!f.canRead) return (0L, 0L)
    val src = scala.io.Source.fromFile(f)
    try {
      src.getLines().find(_.startsWith("cpu ")).map { l =>
        val v = l.trim.split("\\s+").drop(1).map(_.toLong)
        // user nice system idle iowait irq softirq steal [guest guest_nice]:
        // guest time is already counted in user/nice
        (if (v.length > 7) v(7) else 0L, v.take(8).sum)
      }.getOrElse((0L, 0L))
    } finally src.close()
  }

  def stealShare(a: (Long, Long), b: (Long, Long)): Double = {
    val total = b._2 - a._2
    if (total <= 0) 0.0 else (b._1 - a._1).toDouble / total
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Heap in use after full collections, in MiB, and each round's
    * reading. Reads the pools' usage as the collection left it, so what
    * other threads allocate afterwards (the stream's idle triggers) is
    * not counted, and waits between rounds so that Spark's cleaner can
    * drop the broadcasts and shuffles the collection found unreachable.
    * The lowest reading is the retained heap. */
  def retainedHeapMb(sc: org.apache.spark.SparkContext): (Double, Seq[Double]) = {
    org.apache.spark.ListenerBusDrain(sc)
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
    val readings = (1 to 6).map { _ =>
      System.gc()
      val mb = pools.map(_.getCollectionUsage.getUsed).sum / (1024.0 * 1024.0)
      Thread.sleep(250)
      mb
    }
    (readings.min, readings)
  }

  def jvmStartMillis: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Seconds since the JVM started. */
  def sinceStart: Double = (System.currentTimeMillis() - jvmStartMillis) / 1000.0
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest whole percentile with at least `beyond` samples above
    * it, and the latency there. */
  def tail(xs: Seq[Double], beyond: Int = 10): (Int, Double) = {
    val n = xs.length
    val p = if (n > beyond) math.floor(100.0 * (n - beyond) / n).toInt else 0
    (p, quantile(xs, p / 100.0))
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}
