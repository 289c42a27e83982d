package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Every vector and graph lifecycle epoch acquired in one session:
  * each catalog table or view the epochs leave behind is on some live
  * entry's drop list (so it is reclaimed with the session), and the
  * live epoch kinds are exactly the documented lifecycle list plus the
  * three kNN input epochs the graph generation copies from. */
class LifecycleReclaimSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private val vectorStages =
    Seq("index", "delete_index", "compact_index", "upsert_index",
      "append_index", "pointer_view")

  private val lifecycleKinds: Set[String] = (
    Seq("ivf", "ivf_sq8", "ivf_binary", "mrl", "pq", "ivfpq")
      .flatMap(p => vectorStages.map(st => s"${p}_$st")) ++
    Seq("ivf_retrain_index",
      "ivf_sq8_retrain_index", "ivf_sq8_derived_index",
      "ivf_binary_retrain_index", "ivf_binary_derived_index",
      "ivfpq_retrain_index", "ivfpq_derived_index",
      "ivfpq_res_index", "ivfpq_res_delete_index",
      "ivfpq_res_compact_index", "ivfpq_res_upsert_index",
      "ivfpq_res_append_index", "ivfpq_res_retrain_index",
      "ivfpq_res_derived_index", "ivfpq_res_pointer_view",
      "graph_index", "graph_pointer_view", "graph_delete_index",
      "graph_compact_index", "graph_update_index", "graph_append_index",
      "graph_retrain_index")).toSet

  private val graphInputKinds =
    Set("graph_knn_cents", "graph_knn_cells", "graph_knn_edges")

  private def acquireAll(s: SparkSession): Unit = {
    import SimilarityQueries._
    val everyFamily: Seq[(SparkSession, String, Lifecycle) => String] =
      Seq(base, delete, compact, upsert, append, pointer)
    for (lc <- vectorFamilies) {
      everyFamily.foreach(_(s, sfDir, lc))
      if (lc.retrain.isDefined) retrain(s, sfDir, lc)
      if (lc.derive.isDefined) derive(s, sfDir, lc)
    }
    Seq[(SparkSession, String, Lifecycle) => String](
      base, pointer, delete, compact, append, retrain)
      .foreach(_(s, sfDir, GraphQueries.graph))
    GraphQueries.graphUpdateIndexFor(s, sfDir)
  }

  test("every lifecycle epoch's catalog tables are on a live drop list") {
    // a fresh session: its registry entries are only this test's
    val s = SparkTestSession.spark.newSession()
    graft.functions.GraftFunctions.register(s)
    def catalog(): Set[String] =
      s.catalog.listTables().collect().map(_.name.toLowerCase).toSet
    val before = catalog()
    acquireAll(s)
    val appeared = catalog() -- before
    val uuid = EpochRegistry.idOf(s)
    val dropped = EpochRegistry.liveEntries(uuid)
      .flatMap(_.dropTables).map(_.toLowerCase).toSet
    assert(appeared.nonEmpty)
    val leaked = appeared -- dropped
    assert(leaked.isEmpty, s"tables outside every drop list: $leaked")

    val expected = lifecycleKinds ++ graphInputKinds
    assert(lifecycleKinds.size == 58)
    val missing = expected.filter(k =>
      EpochRegistry.liveEntries(uuid, Some(k)).size != 1)
    assert(missing.isEmpty, s"kinds without exactly one live entry: $missing")
    assert(EpochRegistry.liveEntries(uuid).size == expected.size,
      "live entries beyond the lifecycle and graph-input kinds")
  }
}
