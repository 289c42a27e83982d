package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Every vector and graph lifecycle epoch acquired in one session:
  * each catalog table or view the epochs leave behind is on some live
  * entry's drop list (so it is reclaimed with the session), and the
  * live epoch kinds are exactly the documented lifecycle list plus the
  * three kNN input epochs the graph generation copies from. A second
  * test pins which epoch each post-base vector lifecycle entry probes,
  * on that same build: entries that share an oracle (`_deleted`,
  * `_updated`, `_published` all hash-match the base) cannot be told
  * apart by the oracle compare, so a mis-wired stage would otherwise
  * pass. The same pin covers the stream CDC entries and the search and
  * band lifecycle entries, and two more tests hold the CDC stages and
  * the search and band stages to the drop-list rule, on the epochs that
  * pin's one build acquired. */
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

  /** (entry, the epoch kind its plan must read), one per post-base
    * vector lifecycle entry. */
  private val entryKinds: Seq[(String, String)] = Seq(
    "sim_ann_ivf_deleted" -> "ivf_delete_index",
    "sim_ann_ivf_updated" -> "ivf_upsert_index",
    "sim_ann_ivf_published" -> "ivf_pointer_view",
    "sim_ann_ivf_compacted" -> "ivf_compact_index",
    "sim_ann_ivf_appended" -> "ivf_append_index",
    "sim_ann_ivf_appended_recall" -> "ivf_append_index",
    "sim_ann_ivf_compaction_check" -> "ivf_delete_index",
    "sim_ann_ivf_retrained" -> "ivf_retrain_index",
    "sim_ann_ivf_retrained_recall" -> "ivf_retrain_index",
    "sim_ann_ivf_retrain_check" -> "ivf_append_index",
    "sim_ann_ivf_sq8_deleted" -> "ivf_sq8_delete_index",
    "sim_ann_ivf_sq8_updated" -> "ivf_sq8_upsert_index",
    "sim_ann_ivf_sq8_published" -> "ivf_sq8_pointer_view",
    "sim_ann_ivf_sq8_compacted" -> "ivf_sq8_compact_index",
    "sim_ann_ivf_sq8_appended" -> "ivf_sq8_append_index",
    "sim_ann_ivf_sq8_appended_recall" -> "ivf_sq8_append_index",
    "sim_ann_ivf_sq8_compaction_check" -> "ivf_sq8_delete_index",
    "sim_ann_ivf_sq8_derived" -> "ivf_sq8_derived_index",
    "sim_ann_ivf_sq8_retrained" -> "ivf_sq8_retrain_index",
    "sim_ann_ivf_sq8_retrained_recall" -> "ivf_sq8_retrain_index",
    "sim_ann_ivf_sq8_retrain_check" -> "ivf_sq8_append_index",
    "sim_ann_binary_deleted" -> "ivf_binary_delete_index",
    "sim_ann_binary_updated" -> "ivf_binary_upsert_index",
    "sim_ann_binary_published" -> "ivf_binary_pointer_view",
    "sim_ann_binary_compacted" -> "ivf_binary_compact_index",
    "sim_ann_binary_appended" -> "ivf_binary_append_index",
    "sim_ann_binary_appended_recall" -> "ivf_binary_append_index",
    "sim_ann_binary_compaction_check" -> "ivf_binary_delete_index",
    "sim_ann_binary_derived" -> "ivf_binary_derived_index",
    "sim_ann_binary_retrained" -> "ivf_binary_retrain_index",
    "sim_ann_binary_retrained_recall" -> "ivf_binary_retrain_index",
    "sim_ann_binary_retrain_check" -> "ivf_binary_append_index",
    "sim_ann_mrl_deleted" -> "mrl_delete_index",
    "sim_ann_mrl_updated" -> "mrl_upsert_index",
    "sim_ann_mrl_published" -> "mrl_pointer_view",
    "sim_ann_mrl_compacted" -> "mrl_compact_index",
    "sim_ann_mrl_appended" -> "mrl_append_index",
    "sim_ann_mrl_appended_recall" -> "mrl_append_index",
    "sim_ann_mrl_compaction_check" -> "mrl_delete_index",
    "sim_ann_mrl_retrain_check" -> "mrl_append_index",
    "sim_ann_pq_deleted" -> "pq_delete_index",
    "sim_ann_pq_updated" -> "pq_upsert_index",
    "sim_ann_pq_published" -> "pq_pointer_view",
    "sim_ann_pq_compacted" -> "pq_compact_index",
    "sim_ann_pq_appended" -> "pq_append_index",
    "sim_ann_pq_appended_recall" -> "pq_append_index",
    "sim_ann_pq_compaction_check" -> "pq_delete_index",
    "sim_ann_ivfpq_deleted" -> "ivfpq_delete_index",
    "sim_ann_ivfpq_updated" -> "ivfpq_upsert_index",
    "sim_ann_ivfpq_published" -> "ivfpq_pointer_view",
    "sim_ann_ivfpq_compacted" -> "ivfpq_compact_index",
    "sim_ann_ivfpq_appended" -> "ivfpq_append_index",
    "sim_ann_ivfpq_appended_recall" -> "ivfpq_append_index",
    "sim_ann_ivfpq_compaction_check" -> "ivfpq_delete_index",
    "sim_ann_ivfpq_derived" -> "ivfpq_derived_index",
    "sim_ann_ivfpq_retrained" -> "ivfpq_retrain_index",
    "sim_ann_ivfpq_retrained_recall" -> "ivfpq_retrain_index",
    "sim_ann_ivfpq_retrain_check" -> "ivfpq_append_index",
    "sim_ann_ivfpq_residual_deleted" -> "ivfpq_res_delete_index",
    "sim_ann_ivfpq_residual_updated" -> "ivfpq_res_upsert_index",
    "sim_ann_ivfpq_residual_published" -> "ivfpq_res_pointer_view",
    "sim_ann_ivfpq_residual_compacted" -> "ivfpq_res_compact_index",
    "sim_ann_ivfpq_residual_appended" -> "ivfpq_res_append_index",
    "sim_ann_ivfpq_residual_appended_recall" -> "ivfpq_res_append_index",
    "sim_ann_ivfpq_residual_compaction_check" -> "ivfpq_res_delete_index",
    "sim_ann_ivfpq_residual_derived" -> "ivfpq_res_derived_index",
    "sim_ann_ivfpq_residual_retrained" -> "ivfpq_res_retrain_index",
    "sim_ann_ivfpq_residual_retrained_recall" -> "ivfpq_res_retrain_index",
    "sim_ann_ivfpq_residual_retrain_check" -> "ivfpq_res_append_index")

  /** A fresh session: its registry entries are only its own builds. */
  private def freshSession(): SparkSession = {
    val s = SparkTestSession.spark.newSession()
    graft.functions.GraftFunctions.register(s)
    s
  }

  private def catalogTables(s: SparkSession): Set[String] =
    s.catalog.listTables().collect().map(_.name.toLowerCase).toSet

  /** The entries of `entryKinds` whose plan reads no generation of
    * their epoch kind, all built in session `s`. A CDC epoch's value
    * names two generations (`src;settled`): the settle check reads the
    * first, the probes the second. */
  private def miswired(s: SparkSession,
      entryKinds: Seq[(String, String)]): Seq[String] = {
    val uuid = EpochRegistry.idOf(s)
    entryKinds.flatMap { case (entry, kind) =>
      val plan = SparkEntry.queries(entry)(s, sfDir).queryExecution.analyzed
        .toString
      EpochRegistry.liveEntries(uuid, Some(kind)) match {
        // a pointer view is read at plan time: the plan holds the
        // generation it names
        case Seq(res) if res.value.split(';').exists(name => plan.contains(
            graft.operators.Generations.resolveServing(s, name))) => None
        case live => Some(s"$entry: ${live.size} live $kind entries, " +
          "none read by the plan")
      }
    }
  }

  /** One [[acquireAll]] shared by the vector tests: its session, and
    * what the drop-list test checks, recorded before any entry runs —
    * the catalog tables the epochs left behind, every table on a live
    * drop list, the live entries of each lifecycle and graph-input
    * kind, and the number of live entries. */
  private final class VectorBuild(val session: SparkSession,
      val tables: Set[String], val dropped: Set[String],
      val liveOfKind: Map[String, Int], val liveCount: Int)

  private lazy val vectorBuild: VectorBuild = {
    val s = freshSession()
    val before = catalogTables(s)
    acquireAll(s)
    val uuid = EpochRegistry.idOf(s)
    val live = EpochRegistry.liveEntries(uuid)
    new VectorBuild(s, catalogTables(s) -- before,
      live.flatMap(_.dropTables).map(_.toLowerCase).toSet,
      (lifecycleKinds ++ graphInputKinds).map(k =>
        k -> EpochRegistry.liveEntries(uuid, Some(k)).size).toMap,
      live.size)
  }

  test("each vector lifecycle entry probes the epoch of its own stage") {
    assert(entryKinds.size == 69 && entryKinds.map(_._1).distinct.size == 69)
    val wrong = miswired(vectorBuild.session, entryKinds)
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  /** (entry, the epoch kind its plan must read) for the stream CDC
    * entries of the vector and graph families, then for the search and
    * band lifecycle entries. */
  private val cdcEntryKinds: Seq[(String, String)] = Seq(
    "stream_ann_cdc" -> "ivf_cdc_index",
    "stream_ann_cdc_recall" -> "ivf_cdc_index",
    "stream_ann_cdc_settle_check" -> "ivf_cdc_index",
    "stream_ann_cdc_published" -> "ivf_cdc_pointer_view",
    "stream_binary_cdc" -> "ivf_binary_cdc_index",
    "stream_binary_cdc_settle_check" -> "ivf_binary_cdc_index",
    "stream_binary_cdc_published" -> "ivf_binary_cdc_pointer_view",
    "stream_ann_mrl_cdc" -> "mrl_cdc_index",
    "stream_ann_mrl_cdc_recall" -> "mrl_cdc_index",
    "stream_ann_mrl_cdc_settle_check" -> "mrl_cdc_index",
    "stream_ann_mrl_cdc_published" -> "mrl_cdc_pointer_view",
    "stream_ann_ivfpq_cdc" -> "ivfpq_cdc_index",
    "stream_ann_ivfpq_cdc_recall" -> "ivfpq_cdc_index",
    "stream_ann_ivfpq_cdc_settle_check" -> "ivfpq_cdc_index",
    "stream_ann_ivfpq_cdc_published" -> "ivfpq_cdc_pointer_view",
    "stream_graph_cdc" -> "graph_cdc_index",
    "stream_graph_cdc_recall" -> "graph_cdc_index",
    "stream_graph_cdc_settle_check" -> "graph_cdc_index",
    "stream_graph_cdc_published" -> "graph_cdc_pointer_view")

  private val textEntryKinds: Seq[(String, String)] = Seq(
    "text_search_appended" -> "search_append_index",
    "text_search_bm25_appended" -> "search_append_index",
    "text_search_compacted" -> "search_compact_index",
    "text_search_bm25_compacted" -> "search_compact_index",
    "text_search_resharded" -> "search_reshard_index",
    "text_search_bm25_resharded" -> "search_reshard_index",
    "text_search_published" -> "search_view",
    "text_search_bm25_published" -> "search_view",
    "text_search_published_atomic" -> "search_atomic_view",
    "text_search_bm25_published_atomic" -> "search_atomic_view",
    "text_search_published_deleted" -> "search_deleted_view",
    "text_search_bm25_published_deleted" -> "search_deleted_view",
    "text_search_deleted" -> "search_delete_index",
    "text_search_bm25_deleted" -> "search_delete_index",
    "text_search_updated" -> "search_upsert_index",
    "text_search_bm25_updated" -> "search_upsert_index",
    "dedup_incremental_indexed" -> "band_index",
    "dedup_incremental_appended" -> "band_append_index",
    "dedup_incremental_published" -> "band_pointer_view",
    "dedup_incremental_resharded" -> "band_reshard_index",
    "dedup_incremental_compacted" -> "band_compact_index",
    "dedup_incremental_deleted" -> "band_delete_index",
    "dedup_incremental_updated" -> "band_upsert_index",
    "stream_dedup_cdc" -> "band_cdc_index",
    "stream_dedup_cdc_published" -> "band_cdc_view")

  private val cdcAndTextEntryKinds = cdcEntryKinds ++ textEntryKinds

  /** The graph walk materializes every round, so a walked entry's plan
    * names no generation. Each is built instead in a fresh session
    * with the entries of its kind only: the pinned kinds live there
    * must be its own and, for a `_published` entry, the kind of the
    * CDC index its view publishes. */
  private val walked = Set("stream_graph_cdc", "stream_graph_cdc_recall",
    "stream_graph_cdc_published")

  private def walkMiswired(entryKinds: Seq[(String, String)],
      session: () => SparkSession): Seq[String] = {
    val kindOf = entryKinds.toMap
    entryKinds.filter(e => walked(e._1)).groupBy(_._2).toSeq.flatMap {
      case (kind, group) =>
        val s = session()
        group.foreach { case (entry, _) => SparkEntry.queries(entry)(s, sfDir) }
        val uuid = EpochRegistry.idOf(s)
        val live = kindOf.values.toSet.filter(k =>
          EpochRegistry.liveEntries(uuid, Some(k)).nonEmpty)
        val expected = group.map(_._1).flatMap(e =>
          kindOf.get(e.stripSuffix("_published"))).toSet + kind
        if (live == expected) None
        else Some(s"${group.map(_._1).mkString(",")}: live $live, " +
          s"expected $expected")
    }
  }

  /** One build of every stream CDC, search and band entry, shared by the
    * tests below: the entries the wiring check finds mis-wired, the
    * catalog tables the CDC entries and then the text entries left
    * behind, and every table on a drop list of the sessions that built
    * them. */
  private final class CdcAndTextBuild(val session: SparkSession,
      val wrong: Seq[String], val cdcTables: Set[String],
      val textTables: Set[String], val dropped: Set[String])

  private lazy val cdcAndTextBuild: CdcAndTextBuild = {
    val s = freshSession()
    val walkSessions = collection.mutable.Buffer.empty[SparkSession]
    val before = catalogTables(s)
    val wrongCdc = miswired(s, cdcEntryKinds.filterNot(e => walked(e._1))) ++
      walkMiswired(cdcEntryKinds, () => {
        val w = freshSession(); walkSessions += w; w
      })
    val afterCdc = catalogTables(s)
    val wrongText = miswired(s, textEntryKinds)
    val dropped = (s +: walkSessions.toSeq)
      .flatMap(w => EpochRegistry.liveEntries(EpochRegistry.idOf(w)))
      .flatMap(_.dropTables).map(_.toLowerCase).toSet
    new CdcAndTextBuild(s, wrongCdc ++ wrongText, afterCdc -- before,
      catalogTables(s) -- afterCdc, dropped)
  }

  test("each stream CDC, search and band lifecycle entry probes the " +
      "epoch of its own stage") {
    assert(cdcAndTextEntryKinds.size == 44 &&
      cdcAndTextEntryKinds.map(_._1).distinct.size == 44)
    val wrong = cdcAndTextBuild.wrong
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("every CDC stage's catalog tables are on a live drop list") {
    val appeared = cdcAndTextBuild.cdcTables
    assert(appeared.nonEmpty)
    val leaked = appeared -- cdcAndTextBuild.dropped
    assert(leaked.isEmpty, s"tables outside every drop list: $leaked")
  }

  test("every search and band stage's catalog tables are on a live " +
      "drop list") {
    val appeared = cdcAndTextBuild.textTables
    assert(appeared.nonEmpty)
    val leaked = appeared -- cdcAndTextBuild.dropped
    assert(leaked.isEmpty, s"tables outside every drop list: $leaked")
    // the 17 kinds the text entries probe, plus the search base the
    // appended, compacted, published and atomic stages read
    val kinds = textEntryKinds.map(_._2).toSet + "search_index"
    assert(kinds.size == 18)
    val uuid = EpochRegistry.idOf(cdcAndTextBuild.session)
    val missing = kinds.filter(k => EpochRegistry.liveEntries(uuid, Some(k)).isEmpty)
    assert(missing.isEmpty, s"kinds without a live entry: $missing")
  }

  test("every lifecycle epoch's catalog tables are on a live drop list") {
    val appeared = vectorBuild.tables
    val dropped = vectorBuild.dropped
    assert(appeared.nonEmpty)
    val leaked = appeared -- dropped
    assert(leaked.isEmpty, s"tables outside every drop list: $leaked")

    val expected = lifecycleKinds ++ graphInputKinds
    assert(lifecycleKinds.size == 58)
    val missing = expected.filter(k => vectorBuild.liveOfKind(k) != 1)
    assert(missing.isEmpty, s"kinds without exactly one live entry: $missing")
    assert(vectorBuild.liveCount == expected.size,
      "live entries beyond the lifecycle and graph-input kinds")
  }
}
