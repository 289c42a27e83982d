package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite

/** Contract pins for the r21 OPTIMIZATION round's operator-internal
  * changes (OPTIMIZATION_r21.md):
  *
  *   - the three r20 query-level RDD leaves (textrank edge list, the
  *     two co-purchase baskets) now force their k-bounded result and
  *     RELEASE the leaf before returning (VERDICT r20 #6) — no
  *     persisted RDD outlives the query invocation, deterministically
  *     (no ContextCleaner/GC polling needed);
  *   - `text_heaps_law`'s two-level range-grid prefix sums equal the
  *     unpartitioned global-window originals bit-for-bit (the r20 form
  *     pushed one row per DOCUMENT through a single WindowExec task —
  *     the guide-§2 pattern this round removed).
  */
class Round21PerfSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("released-leaf queries leave no persisted RDD behind") {
    val sc = spark.sparkContext
    for (name <- Seq("text_textrank_keywords", "join_copurchase_pairs",
        "join_assoc_rules")) {
      val before = sc.getPersistentRDDs.keySet
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      assert(n > 0, s"$name returned no rows")
      val leaked = sc.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty,
        s"$name left ${leaked.size} persisted RDD(s) after returning — " +
          "the explicit release (VERDICT r20 #6) must not regress to " +
          "ContextCleaner-only reclaim")
    }
  }

  test("BFS frontier pin (forced) is result-identical to the lineage form") {
    // fixture edge bytes are far below the 1 GiB default, so the pin is
    // OFF in the gated entries; forcing it via the conf must not change
    // a single row (it only truncates lineage — the 100 TB form,
    // VERDICT r20 #5)
    val unpinned = canon(SparkEntry.queries("graph_bfs_depths")(spark, sfDir))
    val harmonic = canon(
      SparkEntry.queries("graph_harmonic_centrality")(spark, sfDir))
    spark.conf.set("spark.graft.bfs.pinBytes", "0")
    try {
      assert(canon(SparkEntry.queries("graph_bfs_depths")(spark, sfDir))
        == unpinned)
      assert(canon(
        SparkEntry.queries("graph_harmonic_centrality")(spark, sfDir))
        == harmonic)
    } finally spark.conf.unset("spark.graft.bfs.pinBytes")
  }

  test("a non-numeric BFS pin size fails with an error naming the key") {
    spark.conf.set("spark.graft.bfs.pinBytes", "abc")
    try {
      val e = intercept[IllegalArgumentException](
        SparkEntry.queries("graph_bfs_depths")(spark, sfDir).collect())
      assert(e.getMessage.contains("spark.graft.bfs.pinBytes"), e.getMessage)
      assert(e.getMessage.contains("'abc'"), e.getMessage)
    } finally spark.conf.unset("spark.graft.bfs.pinBytes")
  }

  test("two-level heaps-law prefix sums equal the global-window form") {
    val d = Tables.documents(spark, sfDir)
    // the pre-r21 formulation, verbatim: unpartitioned corpus-sized
    // windows for rank / cum_n / cum_v
    val wR = Window.orderBy(col("doc_id"))
    val cumW = wR.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = d
      .select(col("doc_id"),
        size(graft.operators.TextOps.tokens(col("text"))).cast("long")
          .as("ntoks"))
      .withColumn("rank", row_number().over(wR).cast("long"))
      .withColumn("cum_n", sum(col("ntoks")).over(cumW))
    val fr = d.select(col("doc_id"),
        explode(graft.operators.TextOps.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(min(col("doc_id")).as("fdoc"))
      .join(ranked.select(col("doc_id").as("fdoc"),
        col("rank").as("frank")), Seq("fdoc"))
      .groupBy(col("frank")).agg(count(lit(1)).as("vnew"))
    val cv = ranked.select(col("rank"), col("cum_n"))
      .join(fr, ranked("rank") === fr("frank"), "left")
      .select(col("rank"), col("cum_n"),
        coalesce(col("vnew"), lit(0L)).as("vnew"))
      .withColumn("cum_v", sum(col("vnew")).over(
        Window.orderBy(col("rank")).rowsBetween(
          Window.unboundedPreceding, Window.currentRow)))
    val dd = ranked.agg(max(col("rank")).as("dd"))
    val cp = spark.range(1, 11).select(col("id").as("k"))
      .crossJoin(broadcast(dd))
      .select(expr("(k * dd) div 10").as("rank"))
    val legacy = broadcast(cp).join(cv, Seq("rank"))
      .select(
        floor(lit(1000.0) * log(col("cum_n").cast("double")))
          .cast("long").as("x"),
        floor(lit(1000.0) * log(col("cum_v").cast("double")))
          .cast("long").as("y"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("n"),
        expr("(n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx)")
          .as("beta_ppm"))
    val current = SparkEntry.queries("text_heaps_law")(spark, sfDir)
    assert(canon(current) == canon(legacy))
  }
}
