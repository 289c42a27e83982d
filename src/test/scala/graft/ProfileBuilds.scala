package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scratch profiler (test scope, r21): min-of-N timings for the
  * index-epoch BUILD paths — the once-per-session costs that the cold
  * bench attributes to whichever query first touches each epoch, and
  * that single cold passes therefore cannot compare reliably (the
  * container's 2–10× noise, BENCHLOG discipline). Each rep builds into
  * a throwaway table set; reps re-execute the full build (no epoch
  * cache), so per-op MIN across reps is the comparable signal. The
  * builds are the family table's own ([[SimilarityQueries.vectorFamilies]]),
  * so the profiled arguments are the served ones.
  * Usage: runMain graft.ProfileBuilds [sfDir] [reps]
  */
object ProfileBuilds {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    import graft.operators.VectorOps
    val emb = Tables.embeddings(spark, dir)
    val k = SimilarityQueries.ivfK(emb)
    val times = scala.collection.mutable.Map
      .empty[String, List[Double]].withDefaultValue(Nil)
    var n = 0
    def fresh(): (String, String) = {
      n += 1
      ("graft_profb_" + n,
        java.nio.file.Files.createTempDirectory("graft_profb_").toString)
    }
    def time[A](label: String)(f: => A): Unit = {
      val t0 = System.nanoTime(); f
      times(label) = (System.nanoTime() - t0) / 1e9 :: times(label)
    }
    for (rep <- 1 to reps) {
      time("trainCentroids(k,2) action") {
        VectorOps.trainCentroids(emb, k, 2).write.format("noop")
          .mode("overwrite").save()
      }
      for (lc <- SimilarityQueries.vectorFamilies) {
        val (t, p) = fresh()
        val write = lc.build(spark, dir)
        time(s"build ${lc.prefix}") { write(t, p) }
      }
      println(s"[profile] rep $rep done")
    }
    println("[profile] === min over " + reps + " reps ===")
    times.toSeq.sortBy(_._1).foreach { case (l, ts) =>
      println(f"[profile] MIN $l ${ts.min}%.2f (all: ${ts.reverse.map(t => f"$t%.2f").mkString(", ")})")
    }
    spark.stop()
  }
}
