package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.VectorOps

/** Scratch calibration harness (test scope, not part of the driver
  * contract): prints mean recall@3 of the composed MRL×IVF probe for a
  * sweep of nProbe values, to pick the adaptive mass target. */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 10)
    val brute = VectorOps.bruteForceTopK(q, emb, k = 3)
      .select(col("query_id"), col("neighbor_id"))
    val idx = SimilarityQueries.base(spark, dir, SimilarityQueries.mrl)
    for ((tgt, sl) <- Seq((400000L, 150), (400000L, 200), (500000L, 200))) {
      val ann = VectorOps.probeMrlIndexIvfAdaptive(spark, idx, q, k = 3,
        prefixDims = 32, shortlist = sl, massTargetPpm = tgt)
        .select(col("query_id"), col("neighbor_id"))
      val hit = brute.join(ann, Seq("query_id", "neighbor_id")).count()
      println(s"target=$tgt shortlist=$sl  recall=${hit / 30.0}")
    }
    spark.stop()
  }
}
