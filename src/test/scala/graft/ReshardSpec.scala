package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, IndexFamily, SearchOps}

/** Re-shard contracts for the band and search index families (VERDICT
  * r11 #2 — the monitor→remedy edge made executable like IVF's
  * retrain): the verdict operators threshold the skew distribution
  * integer-exactly, and the executors rewrite a generation under a new
  * bucket count with probe output bit-identical, one file per
  * destination bucket, no feature recompute, and pending tombstones
  * settled. */
class ReshardSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def uniq(p: String) =
    p + java.util.UUID.randomUUID().toString.replace("-", "")
  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private def filesPerBucket(t: String): Map[String, Long] =
    spark.table(t)
      .select(regexp_extract(input_file_name(), "_(\\d{5})\\.c000", 1).as("b"),
        input_file_name().as("f"))
      .groupBy(col("b")).agg(countDistinct(col("f")).as("nf"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private val docs = Seq(
    (1L, "spark window spark query"),
    (2L, "spark window window window"),
    (3L, "spark spark spark spark"),
    (4L, "window plain text here"))
    .toDF("doc_id", "text")

  test("searchReshardCheck: skewed postings fire the verdict, uniform do not") {
    val skewTable = uniq("graft_rs_check_")
    val skewPath = tmp("graft_rs_check_")
    try {
      // 'hot' appears in every doc (df 40), the tail terms once each:
      // max_over_mean and top_frac both blow past their thresholds
      val skewed = (1L to 40L).map(i => (i, s"hot unique$i")).toDF("doc_id", "text")
      SearchOps.writeSearchIndex(skewed, "doc_id", "text", skewTable, skewPath,
        numBuckets = 4)
      val v = SearchOps.searchReshardCheck(spark, skewTable).collect().head
      assert(v.getAs[Long]("n_terms") == 41L && v.getAs[Long]("max_df") == 40L)
      // mean = 80 div 41 = 1 → max_over_mean = 40000; top_frac = 500
      assert(v.getAs[Long]("max_over_mean_x1000") == 40000L)
      assert(v.getAs[Long]("top_frac_x1000") == 500L)
      assert(v.getAs[Boolean]("reshard"), "skewed index must fire the verdict")
      // a perfectly uniform distribution must NOT fire
      val u = SearchOps.searchReshardCheck(spark, skewTable,
        maxOverMeanX1000 = 50000L, topFracX1000 = 600L).collect().head
      assert(!u.getAs[Boolean]("reshard"),
        "thresholds above both signals must not fire")
    } finally spark.sql(s"DROP TABLE IF EXISTS $skewTable")
  }

  test("reshardSearchIndex: probe parity, new-count pruning, one file per bucket, tombstones settle") {
    val src = uniq("graft_rs_src_")
    val dest = uniq("graft_rs_dest_")
    val paths = (1 to 4).map(_ => tmp("graft_rs_"))
    try {
      SearchOps.writeSearchIndex(docs, "doc_id", "text", src, paths(0),
        numBuckets = 2)
      SearchOps.writeDocLengths(spark, src, paths(1), numBuckets = 2)
      // a pending delete must settle during the re-shard
      IndexFamily.search(2).delete(spark, src, Seq(4L).toDF("doc_id"))
      val before = SearchOps.probeSearchIndex(spark, src,
        Seq("spark", "window"), 10).collect().toSeq
      val bmBefore = SearchOps.searchBm25(spark, src,
        Seq("spark", "window"), 10).collect().toSeq

      IndexFamily.search(2).reshard(spark, src, dest, paths(2),
        numBuckets = 4)
      // probe output is layout-invariant (raw-tf AND ranked)
      val after = SearchOps.probeSearchIndex(spark, dest,
        Seq("spark", "window"), 10).collect().toSeq
      val bmAfter = SearchOps.searchBm25(spark, dest,
        Seq("spark", "window"), 10).collect().toSeq
      assert(after == before, "re-shard changed probe results")
      assert(bmAfter == bmBefore, "re-shard changed BM25 results")
      // the probe bucket-prunes against the NEW count
      val scan = SearchOps.probeSearchIndex(spark, dest,
        Seq("spark", "window"), 10).queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of 4".r.findFirstMatchIn(scan)
      assert(sel.isDefined && sel.get.group(1).toInt < 4,
        s"re-sharded probe must prune against the new bucket count:\n$scan")
      // exactly one file per non-empty destination bucket (postings and
      // sidecar both), despite the exchange
      assert(filesPerBucket(dest).values.forall(_ == 1L),
        s"postings: ${filesPerBucket(dest)}")
      assert(filesPerBucket(s"${dest}_doclens").values.forall(_ == 1L),
        s"doclens: ${filesPerBucket(s"${dest}_doclens")}")
      // tombstones settled: doc 4 physically gone, destination clean
      assert(spark.table(dest).filter(col("doc_id") === 4L).count() == 0)
      assert(spark.table(s"${dest}_doclens").filter(col("doc_id") === 4L)
        .count() == 0)
      assert(!spark.catalog.tableExists(s"${dest}_tombstones"))
      // no re-tokenization: the reshard plan is scan→exchange→write —
      // a Generate (the tokenizer's explode) would mean the text was
      // re-processed
      val plan = spark.table(src)
        .repartition(4, col("term")).queryExecution.executedPlan.toString
      assert(!plan.contains("Generate"), s"re-shard must not re-tokenize:\n$plan")
    } finally Seq(s"${src}_tombstones", s"${src}_doclens", src,
      s"${dest}_doclens", dest).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("bandReshardCheck fires on a hot bucket; reshardBandIndex keeps pairs, splits files, settles deletes") {
    // 20 near-identical docs share band buckets (hot), 5 distinct ones
    // spread out — max_bucket ≈ 20 vs mean ~1-2 fires both signals
    val hot = (1L to 20L).map(i =>
      (i, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    val cold = (21L to 25L).map(i =>
      (i, s"unique$i words${i * 7} diverge${i * 13} toks${i * 31} a$i b$i c$i d$i e$i f$i"))
    val corpus = (hot ++ cold).toDF("doc_id", "text")
    val incoming = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val src = uniq("graft_band_rs_")
    val dest = uniq("graft_band_rs_d_")
    val paths = (1 to 2).map(_ => tmp("graft_band_rs_"))
    try {
      Dedup.writeBandIndex(corpus, "doc_id", "text", src, paths(0),
        numBuckets = 4)
      val v = Dedup.bandReshardCheck(spark, src).collect().head
      assert(v.getAs[Long]("max_bucket") >= 20L,
        s"the 20 identical docs must share a bucket: $v")
      assert(v.getAs[Boolean]("reshard"), s"hot bucket must fire the verdict: $v")

      // pending delete of one hot doc settles during the re-shard
      IndexFamily.band(4).delete(spark, src, Seq(20L).toDF("doc_id"))
      val before = Dedup.probeBandIndex(spark, src, incoming, "doc_id", "text",
        0.5).orderBy("new_id", "old_id").collect().toSeq
      IndexFamily.band(4).reshard(spark, src, dest, paths(1), numBuckets = 8)
      val after = Dedup.probeBandIndex(spark, dest, incoming, "doc_id", "text",
        0.5).orderBy("new_id", "old_id").collect().toSeq
      assert(after == before, "re-shard changed band probe results")
      assert(before.nonEmpty && !before.exists(_.getLong(1) == 20L),
        "fixture must pair against live hot docs but not the deleted one")
      assert(filesPerBucket(dest).values.forall(_ == 1L),
        s"band re-shard must write one file per bucket: ${filesPerBucket(dest)}")
      assert(spark.table(dest).filter(col("old_id") === 20L).count() == 0,
        "re-shard must settle pending tombstones")
      assert(!spark.catalog.tableExists(s"${dest}_tombstones"))
    } finally Seq(s"${src}_tombstones", src, dest).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
