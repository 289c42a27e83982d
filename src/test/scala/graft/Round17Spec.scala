package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Classifier, GraphOps, IndexFamily}

/** Functional + plan gates for the r17 wave: the persisted graph-index
  * lifecycle (delete/compact equivalence, the loud poison gate, the
  * retrain monitor's shape), the weighted-PageRank convergence
  * observable, and the classifier's published-model loop (quantile
  * bins, stored-edge drift, published-weight scoring parity).
  */
class Round17Spec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private val sfDir = "/root/testdata/sf0.001"

  private def rows(name: String) =
    SparkEntry.queries(name)(spark, sfDir).collect()

  test("graph delete: no tombstoned poison id is ever served") {
    val del = rows("sim_ann_graph_deleted")
    assert(del.nonEmpty)
    assert(del.forall(_.getLong(1) < 500000L),
      "a tombstoned poison twin leaked into the served top-k")
  }

  test("graph compaction ≡ tombstone exclusion (one oracle, two plans)") {
    val deleted = rows("sim_ann_graph_deleted")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val compacted = rows("sim_ann_graph_compacted")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(deleted == compacted,
      "physically purging the dead ids must not change the walk")
  }

  test("graph upsert heals the negated wave: settled out-edges = clean walk") {
    // every settled wave src must carry exactly k ranked edges and its
    // rank-1 neighbor must be its exact-dup original (cos 1.0)
    val upd = rows("sim_ann_graph_updated")
    val bySrc = upd.groupBy(_.getLong(0))
    assert(bySrc.nonEmpty)
    assert(bySrc.values.forall(_.length == GraphOps.KnnK))
    val rank1 = upd.filter(_.getLong(3) == 1L)
    assert(rank1.forall(r => r.getLong(1) == r.getLong(0) - 100000L),
      "a healed dup's best neighbor must be its original twin")
  }

  test("graph retrain monitor has the family's verdict shape") {
    val chk = rows("sim_ann_graph_retrain_check")
    assert(chk.length == 1)
    val r = chk.head
    assert(r.schema.fieldNames.toSeq == Seq("n_lists", "total_vectors",
      "max_list", "mean_list", "max_over_mean_x1000", "top_frac_x1000",
      "retrain"))
    assert(r.getLong(1) > 0 && r.getLong(2) >= r.getLong(3))
  }

  test("probeGraphIndex serves from the frontier leaf, never a file scan") {
    graft.functions.GraftFunctions.register(spark)
    val q = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 10)
    val res = GraphOps.probeGraphIndex(spark,
      SimilarityQueries.base(spark, sfDir, GraphQueries.graph), q, k = 3)
    val p = res.queryExecution.executedPlan.toString
    // same contract as the session-epoch walk (Round16PlanSpec): the
    // answer is the beam-bounded materialized frontier — neither the
    // lake nor the index tables appear in the RESULT plan (per-round
    // scoring consumed them inside the walk, bounded at beam·k rows)
    assert(p.contains("Scan ExistingRDD"),
      "result must come from the materialized frontier leaf:\n" + p)
    assert(!p.contains("FileScan"),
      "serving must not rescan the corpus or the index tables:\n" + p)
  }

  test("appendToGraphIndex with an empty batch is a no-op") {
    import spark.implicits._
    val t = SimilarityQueries.base(spark, sfDir, GraphQueries.graph)
    val before = spark.table(s"${t}_edges").count()
    GraphOps.appendToGraphIndex(spark, t,
      Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"))
    assert(spark.table(s"${t}_edges").count() == before)
    assert(spark.table(s"${t}_nodes").count() ==
      Tables.embeddings(spark, sfDir).count())
  }

  test("IndexFamily.graph.compact without tombstones is an identity copy") {
    val src = SimilarityQueries.base(spark, sfDir, GraphQueries.graph)
    val dest = "graft_r17spec_cmp_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val path = java.nio.file.Files
      .createTempDirectory("graft_r17spec_cmp_").toString
    try {
      IndexFamily.graph.compact(spark, src, dest, path)
      Seq("_edges", "_nodes", "_cells").foreach { sfx =>
        assert(spark.table(dest + sfx).count() ==
          spark.table(src + sfx).count(), s"suffix $sfx changed size")
      }
    } finally {
      Seq("_cents", "_cells", "_nodes", "_edges").foreach(sfx =>
        spark.sql(s"DROP TABLE IF EXISTS $dest$sfx"))
      ()
    }
  }

  test("filtered probe matches labels exactly and never pads") {
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, sfDir)
    val res = GraphOps.probeGraphIndexFiltered(spark,
      SimilarityQueries.base(spark, sfDir, GraphQueries.graph),
      emb.filter(col("vec_id") < 10), emb, k = 3).collect()
    assert(res.nonEmpty && res.forall(_.getLong(3) <= 3))
    val labels = emb.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.get(1)).toMap
    assert(res.forall(r => labels(r.getLong(0)) == labels(r.getLong(1))),
      "a served neighbor must carry its query's label")
  }

  test("weighted PageRank conserves damped quantized mass") {
    val ranks = GraphOps.pageRankWeighted(spark, sfDir, iters = 3)
      .collect().map(_.getLong(1))
    assert(ranks.nonEmpty && ranks.forall(_ > 0))
    val total = ranks.sum
    assert(total <= 1000000000L && total > 990000000L,
      s"total weighted rank mass $total outside the quantization envelope")
  }

  test("weighted PageRank deltas shrink monotonically (convergence)") {
    val d = GraphOps.pageRankWeightedDeltas(spark, sfDir, iters = 3)
      .orderBy(col("iter")).collect()
    assert(d.length == 3)
    val maxes = d.map(_.getLong(1))
    assert(maxes(0) > maxes(1) && maxes(1) > maxes(2),
      s"max rank movement must shrink per iteration: ${maxes.toSeq}")
  }

  test("classifier bin edges are exact train-split order statistics") {
    val feats = Classifier.labeledFeatures(Tables.documents(spark, sfDir))
    val edges = Classifier.binEdges(feats).orderBy(col("feature")).collect()
    assert(edges.map(_.getString(0)).toSeq == Seq("x1", "x5"))
    edges.foreach { r =>
      val es = (1 to 4).map(r.getLong)
      assert(es == es.sorted, s"edges must be non-decreasing: $es")
      // hand check: e20 = smallest v with cum count >= floor(n/5)
      val f = r.getString(0)
      val vals = feats.filter(col("is_train")).select(col(f))
        .collect().map(_.getLong(0)).sorted
      val target = math.max(1, vals.length * 20 / 100)
      assert(es.head == vals(target - 1),
        s"$f e20: expected ${vals(target - 1)}, got ${es.head}")
    }
  }

  test("published-model scoring equals in-process scoring") {
    val docs = Tables.documents(spark, sfDir)
    val w = Classifier.trajectoryFor(spark, docs, sfDir).epochs.last
    val inProc = Classifier.score(Classifier.labeledFeatures(docs), w)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val published = rows("text_classifier_published")
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inProc == published)
  }

  test("stored-edge driftCheck separates the two waves") {
    val out = rows("text_classifier_retrain_check")
    val byScen = out.groupBy(_.getString(0))
    assert(byScen("dup_wave").forall(!_.getBoolean(6)),
      "the near-copy wave must not trigger a retrain")
    assert(byScen("short_wave").forall(_.getBoolean(6)),
      "the selection-shifted crawl wave must trigger a retrain")
  }

  test("retrained trajectory differs from the base model (the drift moved it)") {
    val base = rows("text_classifier_train").map(_.toSeq).toSeq
    val re = rows("text_classifier_retrained").map(_.toSeq).toSeq
    assert(base.length == re.length)
    assert(base != re, "retraining on the drifted union must move the weights")
  }
}
