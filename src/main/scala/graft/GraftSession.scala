package graft

import org.apache.spark.sql.SparkSession

/** Library session entry point: a SparkSession configured the way the
  * engine expects — AQE on (runtime skew-join + partition coalescing),
  * UTC (oracle parity and sane timestamps), native functions registered,
  * local files handled without forked processes ([[NioLocalFileSystem]]).
  * `shufflePartitions` should be ~2-3x total executor cores; on a real
  * cluster pass `master = null` and let spark-submit supply it. */
object GraftSession {
  def build(master: String = "local[*]", shufflePartitions: Int = 32,
      appName: String = "graft"): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // local files without a forked process per file (NioLocalFileSystem);
      // the stream checkpoint goes through the same FileSystem, since
      // the default FileContext manager builds its own forking one
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileSystemBasedCheckpointFileManager")
      .withExtensions(new graft.functions.GraftExtensions)
    val spark = (if (master != null) b.master(master) else b).getOrCreate()
    graft.functions.GraftFunctions.register(spark)
    graft.functions.IntersectCountSorted.register(spark)
    spark
  }
}
