package graft

import org.apache.spark.sql.SparkSession

/** Builder-side dev tool: times a SUBSET of queries over N passes with
  * min-of-N reporting (`TimeSome <sfDir> 2 <name>` gives one query's
  * cold and warm times). This container's wall-clock is extremely noisy
  * (single queries swing 2 s → 113 s between identical runs — CPU steal
  * on the VM, adjudicated as container noise in VERDICT r6/r8), so the
  * per-query MIN across interleaved passes is the only comparable
  * signal; totals and single-pass numbers are not.
  *
  * Usage: runMain graft.TimeSome <sfDir> <passes> <name> [<name>...]
  */
object TimeSome {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val passes = args(1).toInt; val names = args.drop(2)
    val unknown = names.toSet.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: $unknown")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val times = collection.mutable.Map.empty[String, List[Double]]
    for (p <- 1 to passes; name <- names) {
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      times(name) = sec :: times.getOrElse(name, Nil)
      println(f"[timesome] pass$p $name rows=$n sec=$sec%.2f")
    }
    println("[timesome] === per-query min over " + passes + " passes ===")
    for (name <- names) {
      val ts = times(name)
      println(f"[timesome] MIN $name ${ts.min}%.2f (all: ${ts.reverse.map(t => f"$t%.2f").mkString(", ")})")
    }
    spark.stop()
  }
}
