package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.GraphOps

/** Functional + hygiene gates for the r18 wave: the graph family's
  * shortlist → exact-re-rank composition (the last serving-matrix
  * asymmetry), the filtered probe's frontier-side label join, and the
  * cache-hygiene fixes (beamWalk round leaves, weighted-PageRank
  * iteration states) VERDICT r17 called out.
  */
class Round18Spec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def rows(name: String) =
    SparkEntry.queries(name)(spark, sfDir).collect()

  test("rerank serves k exact-cosine-ranked rows per query") {
    val rr = rows("sim_ann_graph_rerank")
    val byQ = rr.groupBy(_.getLong(0))
    assert(byQ.size == 10)
    byQ.values.foreach { rs =>
      assert(rs.map(_.getLong(3)).sorted.toSeq == Seq(1L, 2L, 3L))
      val sims = rs.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b },
        "re-ranked cosines must be non-increasing in rank")
    }
  }

  test("rerank recall is never below the serving walk's") {
    val base = rows("sim_ann_graph_recall")
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rr = rows("sim_ann_graph_rerank_recall")
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rr.keySet == base.keySet)
    // the widened entry+beam shortlist can only add candidates the
    // exact re-rank then orders — per-query hits must not regress
    assert(rr.forall { case (q, h) => h >= base(q) },
      s"rerank lost hits vs the serving walk: rr=$rr base=$base")
    assert(rr.values.sum > base.values.sum ||
      base.values.sum == base.size * 3L,
      "the widened tier should lift recall unless serve is already exact")
  }

  test("a graph probe leaves at most one block-manager entry (the result leaf)") {
    graft.functions.GraftFunctions.register(spark)
    val q = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 10)
    val t = SimilarityQueries.base(spark, sfDir, GraphQueries.graph)
    // warm the epoch first so its build caches don't count
    GraphOps.probeGraphIndex(spark, t, q, k = 3).collect()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val res = GraphOps.probeGraphIndex(spark, t, q, k = 3)
    assert(res.collect().nonEmpty)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1,
      s"a probe must release every round leaf but the result's: $leaked")
  }

  test("weighted PageRank releases its iteration states") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = GraphOps.pageRankWeightedDeltas(spark, sfDir, iters = 3)
    assert(out.collect().length == 3)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1,
      s"deltas must release the per-iteration rank caches: $leaked")
  }

  test("classifier CDC loop: both flag outcomes + chained generations") {
    val log = rows("stream_classifier_cdc")
    assert(log.length == 6)
    val byWave = log.groupBy(_.getLong(0))
    assert(byWave(1L).forall(!_.getBoolean(6)),
      "the near-copy wave must not fire")
    assert(byWave(2L).forall(_.getBoolean(6)),
      "the selection-shifted crawl wave must fire")
    assert(byWave(3L).exists(_.getBoolean(6)),
      "the long-doc wave must fire against generation 1's own bins")
    assert(byWave(1L).forall(r => r.getLong(7) == 0L && r.getLong(8) == 0L))
    assert(byWave(2L).forall(r => r.getLong(7) == 0L && r.getLong(8) == 1L),
      "the first fired wave must publish generation 1")
    assert(byWave(3L).forall(r => r.getLong(7) == 1L && r.getLong(8) == 2L),
      "the second fired wave must chain to generation 2")
  }

  test("classifier CDC loop: served model is the retrained generation") {
    val served = rows("stream_classifier_cdc_published").map(_.toSeq).toSeq
    val base = rows("text_classifier_train").map(_.toSeq).toSeq
    assert(served.length == 8)
    assert(served != base,
      "after the fired wave the pointer must serve the RETRAINED weights")
  }

  test("classifier CDC loop: settle check reads zero against the fresh model") {
    val chk = rows("stream_classifier_cdc_settle_check")
    assert(chk.length == 2)
    assert(chk.forall(r => r.getLong(4) == 0L && !r.getBoolean(5)),
      "the served model was trained on the settled corpus - PSI must be 0")
    assert(chk.forall(_.getLong(6) == 2L),
      "two fired waves must leave the loop at generation 2")
  }

  test("classifier CDC loop: a replayed batch is a whole no-op") {
    import spark.implicits._
    val base = StreamingQueries.classifierCdcTableFor(spark, sfDir)
    val corpusBefore = spark.table(s"${base}_corpus").count()
    val gensBefore = spark.table(s"${base}_gens").count()
    val decisionsBefore = spark.table(s"${base}_decisions").count()
    // replay batch 1 (the firing wave) with fresh rows — the ledger
    // must skip it whole: no corpus double, no re-fired retrain
    val replay = Seq((999999L, "tiny", 4L, 2L))
      .toDF("doc_id", "text", "n_chars", "wave")
    graft.streaming.IngestStream.applyClassifierBatch(spark, base,
      replay, batchId = 1L,
      baseDocs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"), col("n_chars")))
    assert(spark.table(s"${base}_corpus").count() == corpusBefore)
    assert(spark.table(s"${base}_gens").count() == gensBefore)
    assert(spark.table(s"${base}_decisions").count() == decisionsBefore)
  }

  test("driftCheckHist equals driftCheck (the stored-histogram monitor)") {
    import graft.operators.Classifier
    val docs = Tables.documents(spark, sfDir)
    val train = Classifier.labeledFeatures(docs)
    val incoming = Classifier.labeledFeatures(docs.filter(col("n_chars") < 250))
    val direct = Classifier.driftCheck(train, incoming)
      .orderBy(col("feature")).collect().map(_.toSeq).toSeq
    val viaHist = Classifier.driftCheckHist(
        Classifier.refHistogram(train), incoming)
      .orderBy(col("feature")).collect().map(_.toSeq).toSeq
    assert(direct == viaHist,
      "pre-aggregating the reference side must not change the verdict")
  }

  test("stitched adjacency is label-closed and lifts filtered recall") {
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, sfDir)
    val labels = emb.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.get(1)).toMap
    val ledges = spark.read.parquet(
      graft.operators.GraphOps.labeledKnnGraphDir(spark, sfDir)).collect()
    assert(ledges.nonEmpty)
    assert(ledges.forall(r => labels(r.getLong(0)) == labels(r.getLong(1))),
      "every stitched edge must connect same-label endpoints")
    val flat = rows("sim_ann_graph_filtered_recall").map(_.getLong(1)).sum
    val stitched = rows("sim_ann_graph_filtered_stitched_recall")
      .map(_.getLong(1)).sum
    assert(stitched >= flat,
      s"the label-aware adjacency must not lose recall: $stitched < $flat")
  }

  test("filtered probe (frontier-side label join) still label-matches exactly") {
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, sfDir)
    val res = GraphOps.probeGraphIndexFiltered(spark,
      SimilarityQueries.base(spark, sfDir, GraphQueries.graph),
      emb.filter(col("vec_id") < 10), emb, k = 3).collect()
    assert(res.nonEmpty)
    val labels = emb.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.get(1)).toMap
    assert(res.forall(r => labels(r.getLong(0)) == labels(r.getLong(1))),
      "a served neighbor must carry its query's label")
  }
}
