package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{CdcFamily, CdcStream, IngestStream}
import graft.operators.{Dedup, GraphOps, SearchOps, VectorOps}

/** Restart idempotence for the continuous index-maintenance sinks
  * (VERDICT r11 #5): a drain killed between micro-batches resumes from
  * the checkpoint WITHOUT re-admitting what was already applied, and a
  * REPLAYED micro-batch (the at-least-once case: writes done, checkpoint
  * commit lost) is skipped whole by the `<table>_applied` ledger — no
  * doubled postings, norms rows, or vectors. */
class StreamIngestRestartSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def uniq(p: String) =
    p + java.util.UUID.randomUUID().toString.replace("-", "")
  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  test("search sink: killed drain resumes from checkpoint without re-appending") {
    val baseDocs = Seq(
      (1L, "spark window spark query"),
      (2L, "spark window window window")).toDF("doc_id", "text")
    val wave1 = Seq(
      (3L, "spark catalyst window plans"),
      (4L, "window functions in spark")).toDF("doc_id", "text")
    val wave2 = Seq(
      (5L, "spark shuffle exchange plan"),
      (6L, "unrelated text entirely")).toDF("doc_id", "text")

    val table = uniq("graft_restart_search_")
    val fTable = table + "_f"
    val dirs = (1 to 6).map(_ => tmp("graft_restart_search_"))
    try {
      SearchOps.writeSearchIndex(baseDocs, "doc_id", "text", table, dirs(0),
        numBuckets = 4)
      SearchOps.writeDocLengths(spark, table, dirs(1), numBuckets = 4)

      // PHASE 1: two files arrive, the drain completes, the "process"
      // dies (the query object is gone; only the checkpoint survives)
      wave1.repartition(2).write.mode("overwrite").parquet(dirs(2))
      val src1 = CdcStream.readEventStream(spark, dirs(2), maxFilesPerTrigger = 1)
      IngestStream.searchIndexSink(src1, table, dirs(3), numBuckets = 4,
        trigger = Trigger.AvailableNow()).awaitTermination()
      assert(spark.table(s"${table}_doclens").count() == 4L)
      val ledgerAfter1 = spark.table(s"${table}_applied").count()
      assert(ledgerAfter1 >= 2L,
        s"one ledger row per applied micro-batch, got $ledgerAfter1")

      // PHASE 2: more files land; a NEW sink restarts on the SAME
      // checkpoint — wave1's files must not be re-admitted
      wave2.repartition(2).write.mode("append").parquet(dirs(2))
      val src2 = CdcStream.readEventStream(spark, dirs(2), maxFilesPerTrigger = 1)
      IngestStream.searchIndexSink(src2, table, dirs(3), numBuckets = 4,
        trigger = Trigger.AvailableNow()).awaitTermination()
      // the drain appended from the stream's micro-batch session; this
      // session scanned the tables after phase 1, so its cached file
      // listing must be refreshed (cross-session visibility — see the
      // sink's scaladoc)
      Seq(table, s"${table}_doclens", s"${table}_applied")
        .foreach(spark.catalog.refreshTable)
      val ledgerAfter2 = spark.table(s"${table}_applied").count()
      assert(ledgerAfter2 > ledgerAfter1,
        s"phase-2 batches must reach the ledger: $ledgerAfter1 → $ledgerAfter2")
      // exactly one norms row per doc — a re-admitted wave1 would double 3/4
      val dl = spark.table(s"${table}_doclens").groupBy(col("doc_id"))
        .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dl.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L), s"missing docs: $dl")
      assert(dl.values.forall(_ == 1L), s"restart doubled norms rows: $dl")

      // and the drained index equals a fresh full build (tf + BM25)
      val allDocs = baseDocs.unionAll(wave1).unionAll(wave2)
      SearchOps.writeSearchIndex(allDocs, "doc_id", "text", fTable, dirs(4),
        numBuckets = 4)
      SearchOps.writeDocLengths(spark, fTable, dirs(5), numBuckets = 4)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.map(_.toSeq)
      assert(rows(SearchOps.searchBm25(spark, table, Seq("spark", "window"), 10)) ==
        rows(SearchOps.searchBm25(spark, fTable, Seq("spark", "window"), 10)),
        "restarted drain diverged from a fresh full build")
    } finally Seq(table, fTable).foreach { t =>
      Seq(s"${t}_applied", s"${t}_doclens", t).foreach(x =>
        spark.sql(s"DROP TABLE IF EXISTS $x"))
    }
  }

  test("replayed micro-batch is skipped whole by the cluster sink") {
    graft.functions.GraftFunctions.register(spark)
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (20L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val band = uniq("graft_cl_replay_b_")
    val labels = uniq("graft_cl_replay_l_")
    val path = tmp("graft_cl_replay_")
    try {
      graft.operators.Dedup.writeBandIndex(corpus, "doc_id", "text", band,
        path, numBuckets = 4)
      IngestStream.applyClusterBatch(spark, band, labels, batch,
        numBuckets = 4, threshold = 0.5, batchId = 0L)
      val got = spark.table(labels).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(10L -> 10L, 20L -> 10L),
        s"drained batch must fold into the assignment: $got")
      val bandRows = spark.table(band).count()
      // the replay: band append and label fold must BOTH skip
      IngestStream.applyClusterBatch(spark, band, labels, batch,
        numBuckets = 4, threshold = 0.5, batchId = 0L)
      assert(spark.table(band).count() == bandRows,
        "replayed cluster batch re-appended band rows")
      assert(spark.table(labels).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap == got,
        "replayed cluster batch changed the assignment")
    } finally Seq(band, labels, s"${labels}_applied")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("replayed micro-batch is skipped whole by the ledger (search + IVF)") {
    val table = uniq("graft_replay_search_")
    val paths = (1 to 2).map(_ => tmp("graft_replay_search_"))
    val docs = Seq((1L, "spark window alpha")).toDF("doc_id", "text")
    val batch = Seq((2L, "spark window beta")).toDF("doc_id", "text")
    try {
      SearchOps.writeSearchIndex(docs, "doc_id", "text", table, paths(0),
        numBuckets = 4)
      SearchOps.writeDocLengths(spark, table, paths(1), numBuckets = 4)
      IngestStream.applySearchBatch(spark, table, batch, "doc_id", "text", 4,
        batchId = 7L)
      val postings = spark.table(table).count()
      val norms = spark.table(s"${table}_doclens").count()
      // the replay: same batchId arrives again (checkpoint commit lost)
      IngestStream.applySearchBatch(spark, table, batch, "doc_id", "text", 4,
        batchId = 7L)
      assert(spark.table(table).count() == postings,
        "replayed batch re-appended postings")
      assert(spark.table(s"${table}_doclens").count() == norms,
        "replayed batch re-appended norms rows")
      // a genuinely NEW batch still lands
      IngestStream.applySearchBatch(spark, table,
        Seq((3L, "spark gamma")).toDF("doc_id", "text"), "doc_id", "text", 4,
        batchId = 8L)
      assert(spark.table(s"${table}_doclens").count() == norms + 1)
    } finally Seq(s"${table}_applied", s"${table}_doclens", table)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

    // warm-path replay checks are pure memory (VERDICT r12 #6): once a
    // batch is recorded, the ledger TABLE can disappear and the replay
    // guard still holds — proof the per-batch path takes no catalog hit
    val hwm = uniq("graft_hwm_search_")
    val hwmPaths = (1 to 2).map(_ => tmp("graft_hwm_search_"))
    try {
      SearchOps.writeSearchIndex(
        Seq((1L, "spark window alpha")).toDF("doc_id", "text"),
        "doc_id", "text", hwm, hwmPaths(0), numBuckets = 4)
      SearchOps.writeDocLengths(spark, hwm, hwmPaths(1), numBuckets = 4)
      IngestStream.applySearchBatch(spark, hwm,
        Seq((2L, "spark window beta")).toDF("doc_id", "text"),
        "doc_id", "text", 4, batchId = 11L)
      val norms = spark.table(s"${hwm}_doclens").count()
      spark.sql(s"DROP TABLE ${hwm}_applied") // catalog can no longer answer
      IngestStream.applySearchBatch(spark, hwm,
        Seq((2L, "spark window beta")).toDF("doc_id", "text"),
        "doc_id", "text", 4, batchId = 11L)
      assert(spark.table(s"${hwm}_doclens").count() == norms,
        "warm replay check must not depend on the ledger table")
    } finally Seq(s"${hwm}_applied", s"${hwm}_doclens", hwm)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

    graft.functions.GraftFunctions.register(spark)
    val ivf = uniq("graft_replay_ivf_")
    val ivfPath = tmp("graft_replay_ivf_")
    val vecs = (0L until 16L).map(i =>
      (i, Array.tabulate(4)(d => math.sin(i * 3 + d).toFloat)))
      .toDF("vec_id", "embedding")
    try {
      VectorOps.writeIvfIndex(vecs, ivf, ivfPath, numCentroids = 2,
        trainIters = 1)
      val vbatch = vecs.filter(col("vec_id") < 2)
        .select((col("vec_id") + 900L).as("vec_id"), col("embedding"))
      IngestStream.applyIvfBatch(spark, ivf, vbatch, batchId = 3L)
      val n = spark.table(s"${ivf}_lists").count()
      IngestStream.applyIvfBatch(spark, ivf, vbatch, batchId = 3L)
      assert(spark.table(s"${ivf}_lists").count() == n,
        "replayed vector batch re-inserted rows")
      IngestStream.applyIvfBatch(spark, ivf, vbatch
        .select((col("vec_id") + 100L).as("vec_id"), col("embedding")),
        batchId = 4L)
      assert(spark.table(s"${ivf}_lists").count() == n + 2)
    } finally Seq(s"${ivf}_applied", s"${ivf}_cents", s"${ivf}_lists")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  /** One row of the CDC replay table: a family, a builder for a small
    * standing index of it, the table holding its drain-time rows, how
    * many rows one drained INSERT adds there (`None`: some, the count
    * being token/band-dependent), and the vector width (0: text). */
  private case class ReplayCase(label: String, family: CdcFamily,
      build: (String, String) => Unit, index: String, landed: Option[Long],
      dims: Int)

  private lazy val replayDocs = Seq(
    (1L, "spark window spark query"),
    (2L, "spark window window window")).toDF("doc_id", "text")
  private def replayVecs(dims: Int) = (0L until 16L).map(i =>
    (i, Array.tabulate(dims)(d => math.sin(i * 3 + d).toFloat)))
    .toDF("vec_id", "embedding")

  private val replayCases = Seq(
    ReplayCase("search", CdcFamily.search(4), (t, p) => {
      SearchOps.writeSearchIndex(replayDocs, "doc_id", "text", t, p,
        numBuckets = 4)
      SearchOps.writeDocLengths(spark, t, tmp("graft_cdc_replay_dl_"),
        numBuckets = 4)
    }, "", None, 0),
    ReplayCase("band", CdcFamily.band(4), (t, p) =>
      Dedup.writeBandIndex(replayDocs, "doc_id", "text", t, p,
        numBuckets = 4), "", None, 0),
    ReplayCase("IVF", CdcFamily.ivf, (t, p) =>
      VectorOps.writeIvfIndex(replayVecs(8), t, p, numCentroids = 2,
        trainIters = 1), "_lists", Some(1L), 8),
    // the sign-mask packer takes 64-dim embeddings
    ReplayCase("binary", CdcFamily.binary, (t, p) =>
      VectorOps.writeIvfIndexBinary(replayVecs(64), t, p, numCentroids = 2,
        trainIters = 1), "_lists", Some(1L), 64),
    ReplayCase("MRL", CdcFamily.mrl, (t, p) =>
      VectorOps.writeMrlIndex(replayVecs(8), t, p, prefixDims = 4,
        numCentroids = 2, trainIters = 1), "_prefix", Some(1L), 8),
    // graph INSERTs queue for the settle's batch walk: none land at drain
    ReplayCase("graph", CdcFamily.graph, (t, p) =>
      GraphOps.writeGraphIndex(replayVecs(8), t, p, trainIters = 1),
      "_nodes", Some(0L), 8),
    // m = 2 codes per insert
    ReplayCase("IVF-PQ", CdcFamily.ivfPq(2, 8), (t, p) =>
      VectorOps.writeIvfPqIndex(replayVecs(8), t, p, numCentroids = 2,
        trainIters = 1, m = 2, ksub = 4, pqIters = 1, dim = 8),
      "_codes", Some(2L), 8))

  for (c <- replayCases)
    test(s"replayed micro-batch is skipped whole by the ${c.label} CDC sink") {
      // every statement-routed sink has THREE side effects per batch
      // (immediate append, tombstone append, pending append) — a replay
      // must skip all of them together or the settle double-counts
      graft.functions.GraftFunctions.register(spark)
      def v(shift: Int) =
        Array.tabulate(c.dims)(d => math.cos(d + shift).toFloat)
      val (batch, fresh) =
        if (c.dims == 0) (
          Seq(("INSERT", 5L, "spark window five", 50L),
            ("UPDATE", 1L, "spark window one prime", 51L),
            ("DELETE", 2L, null, 52L))
            .toDF("statement", "doc_id", "text", "event_seq"),
          Seq(("INSERT", 6L, "spark gamma delta epsilon zeta eta theta", 60L))
            .toDF("statement", "doc_id", "text", "event_seq"))
        else (
          Seq(("INSERT", 900L, v(0), 1L),
            ("DELETE", 3L, null.asInstanceOf[Array[Float]], 2L),
            ("UPDATE", 5L, v(1), 3L))
            .toDF("statement", "vec_id", "embedding", "event_seq"),
          Seq(("INSERT", 901L, v(0), 4L))
            .toDF("statement", "vec_id", "embedding", "event_seq"))
      val t = uniq(s"graft_cdc_replay_${c.label.toLowerCase.replace("-", "")}_")
      def counts = (spark.table(t + c.index).count(),
        spark.table(s"${t}_tombstones").count(),
        spark.table(s"${t}_pending").count())
      try {
        c.build(t, tmp("graft_cdc_replay_"))
        IngestStream.applyCdcFamilyBatch(spark, c.family, t, batch,
          batchId = 3L)
        val applied = counts
        // the replay: same batchId arrives again (checkpoint commit lost)
        IngestStream.applyCdcFamilyBatch(spark, c.family, t, batch,
          batchId = 3L)
        assert(counts == applied,
          s"replayed CDC batch re-applied a side effect (${c.label} sink)")
        // a genuinely NEW batch still lands: queued, and (unless the
        // family queues inserts) admitted to the index
        IngestStream.applyCdcFamilyBatch(spark, c.family, t, fresh,
          batchId = 4L)
        val (index, tombs, pending) = counts
        assert(pending == applied._3 + 1 && tombs == applied._2,
          s"new batch did not queue exactly its INSERT (${c.label} sink)")
        c.landed match {
          case Some(n) => assert(index == applied._1 + n,
            s"new batch added ${index - applied._1} index rows, want $n")
          case None => assert(index > applied._1,
            s"new batch did not reach the ${c.label} index")
        }
      } finally (c.family.tables ++ CdcFamily.sidecars).foreach(sfx =>
        spark.sql(s"DROP TABLE IF EXISTS $t$sfx"))
    }

  test("IVF-PQ settle re-encodes with the family's m/dim: equals the union build") {
    // a non-default (m = 2, dim = 8) index: the settle must re-encode the
    // UPDATE under the SAME subspaces the drain encoded the INSERT with
    graft.functions.GraftFunctions.register(spark)
    val family = CdcFamily.ivfPq(2, 8)
    val (src, dest, exp) = (uniq("graft_ivfpq_settle_src_"),
      uniq("graft_ivfpq_settle_dest_"), uniq("graft_ivfpq_settle_exp_"))
    val paths = (1 to 3).map(_ => tmp("graft_ivfpq_settle_"))
    val ins = Array.tabulate(8)(d => math.cos(d).toFloat)
    val upd = Array.tabulate(8)(d => math.cos(d + 1).toFloat)
    try {
      VectorOps.writeIvfPqIndex(replayVecs(8), src, paths(0), numCentroids = 2,
        trainIters = 1, m = 2, ksub = 4, pqIters = 1, dim = 8)
      IngestStream.applyCdcFamilyBatch(spark, family, src, Seq(
          ("INSERT", 900L, ins, 1L),
          ("DELETE", 3L, null.asInstanceOf[Array[Float]], 2L),
          ("UPDATE", 5L, upd, 3L))
        .toDF("statement", "vec_id", "embedding", "event_seq"), batchId = 0L)
      IngestStream.settleFamilyUpserts(spark, family, src, dest,
        Seq(paths(1)))
      // the union build: the same frozen quantizers, the final corpus
      // (3 deleted, 5 updated, 900 inserted) appended into empty codes
      Seq("_cents", "_codebooks").foreach(sfx =>
        spark.table(src + sfx).write.format("parquet")
          .option("path", s"${paths(2)}/$sfx").saveAsTable(exp + sfx))
      spark.table(s"${src}_codes").limit(0).write.format("parquet")
        .partitionBy("list_id").option("path", s"${paths(2)}/codes")
        .saveAsTable(s"${exp}_codes")
      VectorOps.appendToIvfPqIndex(spark, exp,
        replayVecs(8).filter(!col("vec_id").isin(3L, 5L))
          .unionByName(Seq((5L, upd), (900L, ins)).toDF("vec_id", "embedding")),
        m = 2, dim = 8)
      def codes(t: String) = spark.table(s"${t}_codes")
        .select(col("vec_id"), col("s"), col("cid"), col("list_id"))
        .orderBy(col("vec_id"), col("s")).collect().toSeq.map(_.toSeq)
      assert(codes(dest) == codes(exp),
        "settled IVF-PQ codes differ from the frozen-quantizer union build")
    } finally Seq(src, dest, exp).foreach { t =>
      (family.tables ++ CdcFamily.sidecars).foreach(sfx =>
        spark.sql(s"DROP TABLE IF EXISTS $t$sfx"))
    }
  }

  test("settle refreshes what a long-running sink appended from its own session") {
    // the sink appends from the stream's cloned session; a settle from
    // the caller's session that already read the sidecars must still
    // see the newest tombstones and pending rows
    def ev(rows: (String, Long, String, Long)*) =
      rows.toSeq.toDF("statement", "doc_id", "text", "event_seq").coalesce(1)
    val docs = Seq(
      (1L, "spark window spark query"),
      (2L, "spark window window window"),
      (3L, "spark plain text"),
      (4L, "window plain text")).toDF("doc_id", "text")
    val t = uniq("graft_cdc_xsession_")
    val (s1, s2, ref) = (t + "_s1", t + "_s2", t + "_ref")
    val p = (1 to 10).map(_ => tmp("graft_cdc_xsession_"))
    SearchOps.writeSearchIndex(docs, "doc_id", "text", t, p(0), numBuckets = 4)
    SearchOps.writeDocLengths(spark, t, p(1), numBuckets = 4)
    ev(("INSERT", 5L, "spark window five", 10L),
      ("UPDATE", 3L, "spark spark three", 11L),
      ("DELETE", 4L, null, 12L)).write.mode("append").parquet(p(2))
    val query = IngestStream.cdcIndexSink(
      CdcStream.readEventStream(spark, p(2), maxFilesPerTrigger = 1), t, p(3),
      numBuckets = 4, trigger = Trigger.ProcessingTime("100 milliseconds"))
    try {
      query.processAllAvailable()
      // this session now holds file listings of every sidecar
      IngestStream.settleSearchUpserts(spark, t, s1, p(4), p(5),
        numBuckets = 4)
      ev(("DELETE", 1L, null, 20L),
        ("UPDATE", 2L, "window two rewritten", 21L))
        .write.mode("append").parquet(p(2))
      query.processAllAvailable()
      IngestStream.settleSearchUpserts(spark, t, s2, p(6), p(7),
        numBuckets = 4)
      SearchOps.writeSearchIndex(Seq(
          (2L, "window two rewritten"),
          (3L, "spark spark three"),
          (5L, "spark window five")).toDF("doc_id", "text"),
        "doc_id", "text", ref, p(8), numBuckets = 4)
      SearchOps.writeDocLengths(spark, ref, p(9), numBuckets = 4)
      def bm25(x: String) = SearchOps.searchBm25(spark, x,
        Seq("spark", "window"), 10).collect().toSeq.map(_.toSeq)
      assert(bm25(s2) == bm25(ref),
        "settle missed the sink's latest tombstones/pending rows")
    } finally {
      query.stop()
      (Seq(t, s1, s2, ref).flatMap(x => Seq(x, s"${x}_doclens")) ++
        CdcFamily.sidecars.map(t + _))
        .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    }
  }
}
