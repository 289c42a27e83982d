package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Generations, IndexFamily, SearchOps}

/** View-flip serving contracts (VERDICT r11 #4): probes address a
  * stable view; promoting a generation is one `CREATE OR REPLACE VIEW`
  * per suffix; the serving name always resolves; generations stay
  * addressable for rollback; and bucket pruning survives the
  * indirection. */
class ViewFlipSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def uniq(p: String) =
    p + java.util.UUID.randomUUID().toString.replace("-", "")
  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private val v1docs = Seq(
    (1L, "spark window spark query"),
    (2L, "spark window window window"),
    (3L, "window plain text here"))
    .toDF("doc_id", "text")
  // v2 re-ranks: doc 3 now matches both terms, doc 2 loses 'spark'
  private val v2docs = Seq(
    (1L, "spark window spark query"),
    (2L, "window window window plain"),
    (3L, "spark window spark window"))
    .toDF("doc_id", "text")

  test("publish flips the serving view atomically per suffix; rollback re-publishes") {
    val view = uniq("graft_view_")
    val g1 = uniq("graft_view_g1_")
    val g2 = uniq("graft_view_g2_")
    val paths = (1 to 4).map(_ => tmp("graft_view_"))
    try {
      SearchOps.writeSearchIndex(v1docs, "doc_id", "text", g1, paths(0),
        numBuckets = 4)
      SearchOps.writeDocLengths(spark, g1, paths(1), numBuckets = 4)
      SearchOps.writeSearchIndex(v2docs, "doc_id", "text", g2, paths(2),
        numBuckets = 4)
      SearchOps.writeDocLengths(spark, g2, paths(3), numBuckets = 4)

      def ids() = SearchOps.probeSearchIndex(spark, view,
        Seq("spark", "window"), 10).collect().map(_.getLong(0)).toSet

      Generations.publish(spark, view, g1, suffixes = Seq("", "_doclens"))
      assert(ids() == Set(1L, 2L), s"view must serve g1: ${ids()}")
      // BM25 resolves both the postings AND the sidecar through views
      val bmV = SearchOps.searchBm25(spark, view, Seq("spark", "window"), 10)
        .collect().toSeq
      val bmG = SearchOps.searchBm25(spark, g1, Seq("spark", "window"), 10)
        .collect().toSeq
      assert(bmV == bmG, "BM25 through the view must equal the generation's")

      // the FLIP: one replace per suffix, no rename of either generation
      Generations.publish(spark, view, g2, suffixes = Seq("", "_doclens"))
      assert(ids() == Set(1L, 3L), s"view must serve g2 after the flip: ${ids()}")
      // both generations remain addressable under their own names —
      // that's what makes rollback a re-publish, not a restore
      assert(SearchOps.probeSearchIndex(spark, g1, Seq("spark", "window"), 10)
        .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
      Generations.publish(spark, view, g1, suffixes = Seq("", "_doclens"))
      assert(ids() == Set(1L, 2L), "rollback = re-publishing the old generation")

      // a missing generation fails BEFORE any suffix is replaced: the
      // serving view still points wherever it pointed
      intercept[IllegalArgumentException] {
        Generations.publish(spark, view, uniq("graft_view_nope_"),
          suffixes = Seq("", "_doclens"))
      }
      assert(ids() == Set(1L, 2L), "failed publish must leave the view intact")
    } finally {
      Seq(view, s"${view}_doclens").foreach(v =>
        spark.sql(s"DROP VIEW IF EXISTS $v"))
      Seq(g1, s"${g1}_doclens", g2, s"${g2}_doclens").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("publishSearch: one catalog object serves postings+norms+tombstones atomically") {
    val view = uniq("graft_aview_")
    val g1 = uniq("graft_aview_g1_")
    val g2 = uniq("graft_aview_g2_")
    val paths = (1 to 4).map(_ => tmp("graft_aview_"))
    try {
      SearchOps.writeSearchIndex(v1docs, "doc_id", "text", g1, paths(0),
        numBuckets = 4)
      SearchOps.writeDocLengths(spark, g1, paths(1), numBuckets = 4)
      SearchOps.writeSearchIndex(v2docs, "doc_id", "text", g2, paths(2),
        numBuckets = 4)
      SearchOps.writeDocLengths(spark, g2, paths(3), numBuckets = 4)

      Generations.publishSearch(spark, view, g1)
      def ids() = SearchOps.probeSearchIndex(spark, view,
        Seq("spark", "window"), 10).collect().map(_.getLong(0)).toSet
      assert(ids() == Set(1L, 2L), s"view must serve g1: ${ids()}")
      // BM25 through the combined view == BM25 on the generation: the
      // norms and stats resolve from the SAME catalog object
      val bmV = SearchOps.searchBm25(spark, view, Seq("spark", "window"), 10)
        .collect().toSeq
      val bmG = SearchOps.searchBm25(spark, g1, Seq("spark", "window"), 10)
        .collect().toSeq
      assert(bmV == bmG, "combined-view BM25 must equal the generation's")

      // the atomicity argument, checked structurally: the serving name
      // is ONE view whose definition names exactly one generation — a
      // probe that resolves it can never pair g1 postings with g2 norms
      def viewDef() = spark.sql(s"SHOW CREATE TABLE $view")
        .collect()(0).getString(0)
      assert(viewDef().contains(g1) && !viewDef().contains(g2))
      Generations.publishSearch(spark, view, g2)
      assert(viewDef().contains(g2) && !viewDef().contains(g1),
        "after the flip every part must come from g2")
      assert(ids() == Set(1L, 3L), s"view must serve g2 after the flip: ${ids()}")
      // rollback = re-publish; generations untouched underneath
      Generations.publishSearch(spark, view, g1)
      assert(ids() == Set(1L, 2L))

      // a delete issued against the generation AFTER the flip resolves
      // through the view immediately (ADVICE r12 #1): the view serves
      // the generation's live tombstone sidecar, not a snapshot —
      // candidates AND the BM25 corpus stats exclude the doc
      IndexFamily.search(4).delete(spark, g1, Seq(2L).toDF("doc_id"))
      assert(ids() == Set(1L), s"tombstone must resolve through the view: ${ids()}")
      val bmDel = SearchOps.searchBm25(spark, view, Seq("spark", "window"), 10)
        .collect().toSeq
      val bmRef = SearchOps.searchBm25(spark, g1, Seq("spark", "window"), 10)
        .collect().toSeq
      assert(bmDel == bmRef,
        "view-served BM25 must track the generation's tombstones")
    } finally {
      spark.sql(s"DROP VIEW IF EXISTS $view")
      Seq(g1, s"${g1}_doclens", s"${g1}_tombstones",
        g2, s"${g2}_doclens", s"${g2}_tombstones").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("publishSearch: bucket pruning survives the part-discriminated view") {
    val view = uniq("graft_aview_prune_")
    val g = uniq("graft_aview_prune_g_")
    val paths = (1 to 2).map(_ => tmp("graft_aview_prune_"))
    try {
      SearchOps.writeSearchIndex(v1docs, "doc_id", "text", g, paths(0),
        numBuckets = 4)
      SearchOps.writeDocLengths(spark, g, paths(1), numBuckets = 4)
      Generations.publishSearch(spark, view, g)
      val probe = SearchOps.probeSearchIndex(spark, view,
        Seq("spark", "window"), 10)
      val plan = probe.queryExecution.executedPlan.toString
      // the term-IN predicate reaches the postings branch's bucketed scan
      val sel = "SelectedBucketsCount: (\\d+) out of 4".r.findFirstMatchIn(plan)
      assert(sel.isDefined && sel.get.group(1).toInt < 4,
        s"probe through the combined view must still bucket-prune:\n$plan")
      // ...and the part filter constant-folds the norms branch away —
      // the tf probe must not read a single doclens file
      assert(!plan.contains("_doclens"),
        s"part='p' must prune the doclens branch out of the plan:\n$plan")
    } finally {
      spark.sql(s"DROP VIEW IF EXISTS $view")
      Seq(g, s"${g}_doclens", s"${g}_tombstones").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("bucket pruning survives the view indirection") {
    val view = uniq("graft_view_prune_")
    val g = uniq("graft_view_prune_g_")
    val paths = (1 to 2).map(_ => tmp("graft_view_prune_"))
    try {
      SearchOps.writeSearchIndex(v1docs, "doc_id", "text", g, paths(0),
        numBuckets = 4)
      SearchOps.writeDocLengths(spark, g, paths(1), numBuckets = 4)
      Generations.publish(spark, view, g, suffixes = Seq("", "_doclens"))
      val probe = SearchOps.probeSearchIndex(spark, view,
        Seq("spark", "window"), 10)
      val scan = probe.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of 4".r.findFirstMatchIn(scan)
      assert(sel.isDefined && sel.get.group(1).toInt < 4,
        s"probe through the view must still bucket-prune:\n$scan")
    } finally {
      Seq(view, s"${view}_doclens").foreach(v =>
        spark.sql(s"DROP VIEW IF EXISTS $v"))
      Seq(g, s"${g}_doclens").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}
