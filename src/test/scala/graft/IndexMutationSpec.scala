package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, GraphOps, IndexFamily, SearchOps, VectorOps}
import graft.streaming.IngestStream

/** UPDATE/DELETE maintenance contracts for the standing index families
  * (VERDICT r11 #1): a deleted document/vector stops influencing probes
  * entirely, a re-ingested (upserted) document does NOT double its
  * `dl`/`df`/postings, and compaction physically settles pending
  * tombstones. */
class IndexMutationSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def uniq(p: String) =
    p + java.util.UUID.randomUUID().toString.replace("-", "")
  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private val docs = Seq(
    (1L, "spark window spark query"),
    (2L, "spark window window window"),
    (3L, "spark spark window table"),
    (4L, "window plain text here"))
    .toDF("doc_id", "text")

  test("search delete: tombstoned doc vanishes from probes and BM25 stats") {
    val table = uniq("graft_del_spec_")
    val path = tmp("graft_del_spec_")
    val dlPath = tmp("graft_del_spec_dl_")
    try {
      SearchOps.writeSearchIndex(docs, "doc_id", "text", table, path, numBuckets = 4)
      SearchOps.writeDocLengths(spark, table, dlPath, numBuckets = 4)
      val before = SearchOps.probeSearchIndex(spark, table, Seq("spark", "window"), 10)
        .collect().map(_.getLong(0)).toSet
      assert(before == Set(1L, 2L, 3L))
      IndexFamily.search(4).delete(spark, table, Seq(2L).toDF("doc_id"))
      val after = SearchOps.probeSearchIndex(spark, table, Seq("spark", "window"), 10)
        .collect().map(_.getLong(0)).toSet
      assert(after == Set(1L, 3L), "tombstoned doc still surfaced")
      // the delete is logical: the postings are untouched until compaction
      assert(spark.table(table).filter(col("doc_id") === 2L).count() > 0,
        "delete rewrote the postings — it must only tombstone")
      // BM25 must treat the corpus as if doc 2 never existed: scores
      // equal a fresh index built WITHOUT it (stats n_docs/Σdl included)
      val bmDel = SearchOps.searchBm25(spark, table, Seq("spark", "window"), 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val t2 = uniq("graft_del_spec_ref_")
      val p2 = tmp("graft_del_spec_ref_")
      val dl2 = tmp("graft_del_spec_ref_dl_")
      try {
        SearchOps.writeSearchIndex(docs.filter(col("doc_id") =!= 2L),
          "doc_id", "text", t2, p2, numBuckets = 4)
        SearchOps.writeDocLengths(spark, t2, dl2, numBuckets = 4)
        val bmRef = SearchOps.searchBm25(spark, t2, Seq("spark", "window"), 10)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        assert(bmDel == bmRef,
          s"tombstoned BM25 != rebuilt-without-doc BM25: $bmDel vs $bmRef")
      } finally Seq(s"${t2}_doclens", t2).foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
      // compaction settles the delete physically and starts tombstone-free
      val ct = uniq("graft_del_spec_c_")
      val cp = tmp("graft_del_spec_c_")
      try {
        IndexFamily.search(4).compact(spark, table, ct, cp)
        assert(spark.table(ct).filter(col("doc_id") === 2L).count() == 0,
          "compaction must purge tombstoned postings")
        assert(!spark.catalog.tableExists(s"${ct}_tombstones"),
          "compacted generation must start tombstone-free")
        val probeC = SearchOps.probeSearchIndex(spark, ct, Seq("spark", "window"), 10)
          .collect().map(_.getLong(0)).toSet
        assert(probeC == Set(1L, 3L))
      } finally Seq(s"${ct}_doclens", ct).foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    } finally Seq(s"${table}_tombstones", s"${table}_doclens", table)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("a (seq, doc_id) tombstone sidecar drops doc_id in probe, compaction and settle") {
    val src = uniq("graft_seq_first_src_")
    val compacted = uniq("graft_seq_first_c_")
    val settled = uniq("graft_seq_first_s_")
    val paths = (1 to 5).map(_ => tmp("graft_seq_first_"))
    try {
      SearchOps.writeSearchIndex(docs.filter(col("doc_id") <= 2L), "doc_id",
        "text", src, paths(0), numBuckets = 4)
      SearchOps.writeDocLengths(spark, src, paths(1), numBuckets = 4)
      // the sidecar tombstones doc 1 at seq 2: read by position, its
      // first column would tombstone doc 2 instead
      Seq((2L, 1L)).toDF("seq", "doc_id").write.format("parquet")
        .saveAsTable(s"${src}_tombstones")
      val probed = SearchOps.probeSearchIndex(spark, src,
        Seq("spark", "window"), 10).collect().map(_.getLong(0)).toSet
      assert(probed == Set(2L), s"probe: $probed")
      IndexFamily.search(4).compact(spark, src, compacted, paths(2))
      IngestStream.settleSearchUpserts(spark, src, settled, paths(3),
        paths(4), numBuckets = 4)
      for (t <- Seq(compacted, settled); x <- Seq("", "_doclens")) {
        val ids = spark.table(t + x).select(col("doc_id")).distinct()
          .as[Long].collect().toSet
        assert(ids == Set(2L), s"$t$x: $ids")
      }
    } finally Seq(src, compacted, settled).flatMap(t =>
        Seq("", "_doclens", "_tombstones").map(t + _))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("upsertToSearchIndex: re-ingested doc does NOT double dl/df; stale postings gone") {
    val src = uniq("graft_ups_src_")
    val dest = uniq("graft_ups_dest_")
    val paths = (1 to 4).map(_ => tmp("graft_ups_"))
    try {
      // v1 carries a stale doc 3 (different text) and a pending delete of 4
      val stale = docs.withColumn("text",
        when(col("doc_id") === 3L, lit("stale stale stale spark")).otherwise(col("text")))
      SearchOps.writeSearchIndex(stale, "doc_id", "text", src, paths(0), numBuckets = 4)
      SearchOps.writeDocLengths(spark, src, paths(1), numBuckets = 4)
      IndexFamily.search(4).delete(spark, src, Seq(4L).toDF("doc_id"))
      IndexFamily.search(4).upsert(spark, src, dest, Seq(paths(2), paths(3)),
        docs.filter(col("doc_id") === 3L))
      // exactly ONE norms row per doc, with the NEW length for doc 3 and
      // the tombstoned doc 4 purged
      val dl = spark.table(s"${dest}_doclens").collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      assert(dl.map(_._1).sorted.toSeq == Seq(1L, 2L, 3L),
        s"doclens must hold each live doc exactly once: ${dl.toSeq}")
      assert(dl.toMap.apply(3L) == 4L, "doc 3 must carry its NEW token count")
      // stale postings replaced: 'stale' gone, per-term df counts doc 3 once
      assert(spark.table(dest).filter(col("term") === "stale").count() == 0)
      val df3 = spark.table(dest).filter(col("doc_id") === 3L)
        .groupBy(col("term")).count().collect()
      assert(df3.forall(_.getLong(1) == 1L),
        "a term of the re-ingested doc appears in more than one posting row")
      // probes over the upserted generation equal a fresh all-true-docs build
      val probe = SearchOps.probeSearchIndex(spark, dest, Seq("spark", "window"), 10)
        .collect().toSeq
      val direct = SearchOps.searchAllTerms(
        SearchOps.invertedIndex(docs.filter(col("doc_id") =!= 4L), "doc_id", "text"),
        Seq("spark", "window"), 10).collect().toSeq
      assert(probe == direct)
      assert(!spark.catalog.tableExists(s"${dest}_tombstones"))
    } finally Seq(s"${src}_tombstones", s"${src}_doclens", src,
      s"${dest}_doclens", dest).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("CDC settle orders deletes against later inserts/updates by event_seq") {
    // VERDICT r12 #1: id-level tombstones could not order against later
    // events — a deleted-then-reinserted doc must serve its FINAL text
    // after the settle, an updated-then-deleted doc must stay dead, and
    // ARRIVAL order must not matter (the queue's event_seq decides).
    val src = uniq("graft_cdc_seq_src_")
    val dest = uniq("graft_cdc_seq_dest_")
    val ref = uniq("graft_cdc_seq_ref_")
    val paths = (1 to 6).map(_ => tmp("graft_cdc_seq_"))
    def ev(rows: (String, Long, String, Long)*) =
      rows.toSeq.toDF("statement", "doc_id", "text", "event_seq")
    try {
      SearchOps.writeSearchIndex(docs, "doc_id", "text", src, paths(0),
        numBuckets = 4)
      SearchOps.writeDocLengths(spark, src, paths(1), numBuckets = 4)
      // per-doc histories (by event_seq): 1 DELETE@40→UPDATE@50,
      // 2 DELETE@10→re-INSERT@20, 3 UPDATE@30, 4 UPDATE@6→DELETE@7,
      // 5 plain INSERT@21 — delivered in SCRAMBLED micro-batch order
      IngestStream.applyCdcFamilyBatch(spark, IndexFamily.search(4), src, ev(
        ("UPDATE", 3L, "spark window three updated", 30L),
        ("DELETE", 4L, "", 7L)), batchId = 0L)
      IngestStream.applyCdcFamilyBatch(spark, IndexFamily.search(4), src, ev(
        ("INSERT", 2L, "spark window two reborn", 20L),
        ("UPDATE", 1L, "spark window one revised", 50L),
        ("INSERT", 5L, "spark window five fresh", 21L)), batchId = 1L)
      IngestStream.applyCdcFamilyBatch(spark, IndexFamily.search(4), src, ev(
        ("DELETE", 2L, "", 10L),
        ("DELETE", 1L, "", 40L),
        ("UPDATE", 4L, "spark window four mistake", 6L)), batchId = 2L)
      IngestStream.settleSearchUpserts(
        spark, src, dest, paths(2), paths(3), numBuckets = 4)
      val truth = Seq(
        (1L, "spark window one revised"),
        (2L, "spark window two reborn"),
        (3L, "spark window three updated"),
        (5L, "spark window five fresh")).toDF("doc_id", "text")
      SearchOps.writeSearchIndex(truth, "doc_id", "text", ref, paths(4),
        numBuckets = 4)
      SearchOps.writeDocLengths(spark, ref, paths(5), numBuckets = 4)
      def rows(t: String, f: (org.apache.spark.sql.SparkSession, String,
          Seq[String], Int) => org.apache.spark.sql.DataFrame) =
        f(spark, t, Seq("spark", "window"), 10).collect().toSeq.map(_.toSeq)
      assert(rows(dest, SearchOps.probeSearchIndex) ==
        rows(ref, SearchOps.probeSearchIndex),
        "settled generation must equal a fresh build over the final texts")
      assert(rows(dest, SearchOps.searchBm25) == rows(ref, SearchOps.searchBm25),
        "BM25 over the settled generation must equal the fresh build's")
      val dl = spark.table(s"${dest}_doclens").collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      assert(dl.map(_._1).sorted.toSeq == Seq(1L, 2L, 3L, 5L),
        s"one norms row per live doc, dead doc 4 purged: ${dl.toSeq}")
      assert(spark.table(dest).filter(col("doc_id") === 4L).count() == 0,
        "updated-then-deleted doc must not survive the settle")
    } finally Seq(s"${src}_tombstones", s"${src}_pending", s"${src}_applied",
      s"${src}_doclens", src, s"${dest}_doclens", dest,
      s"${ref}_doclens", ref).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("two same-doc updates in ONE micro-batch: event_seq ordinal picks the later") {
    // VERDICT r13 #6 — the within-batch tie the batchId stamp cannot
    // break: both events land in one applyCdcFamilyBatch call, physical row
    // order is ADVERSARIAL (doc 1 poison-first, doc 2 truth-first), and
    // only event_seq may decide.
    val src = uniq("graft_cdc_2u_src_")
    val dest = uniq("graft_cdc_2u_dest_")
    val ref = uniq("graft_cdc_2u_ref_")
    val paths = (1 to 6).map(_ => tmp("graft_cdc_2u_"))
    def ev(rows: (String, Long, String, Long)*) =
      rows.toSeq.toDF("statement", "doc_id", "text", "event_seq")
    try {
      SearchOps.writeSearchIndex(docs, "doc_id", "text", src, paths(0),
        numBuckets = 4)
      SearchOps.writeDocLengths(spark, src, paths(1), numBuckets = 4)
      IngestStream.applyCdcFamilyBatch(spark, IndexFamily.search(4), src, ev(
        ("UPDATE", 1L, "spark window one poison", 100L),
        ("UPDATE", 1L, "spark window one final", 200L),
        ("UPDATE", 2L, "spark window two final", 201L),
        ("UPDATE", 2L, "spark window two poison", 101L)), batchId = 0L)
      IngestStream.settleSearchUpserts(
        spark, src, dest, paths(2), paths(3), numBuckets = 4)
      val truth = Seq(
        (1L, "spark window one final"),
        (2L, "spark window two final"),
        (3L, "spark spark window table"),
        (4L, "window plain text here")).toDF("doc_id", "text")
      SearchOps.writeSearchIndex(truth, "doc_id", "text", ref, paths(4),
        numBuckets = 4)
      SearchOps.writeDocLengths(spark, ref, paths(5), numBuckets = 4)
      def rows(t: String) = SearchOps.searchBm25(spark, t,
        Seq("spark", "window"), 10).collect().toSeq.map(_.toSeq)
      assert(rows(dest) == rows(ref),
        "settle must serve each doc's LATER same-batch update")
      val served = spark.table(dest).filter(col("term") === "poison").count()
      assert(served == 0, "the lower-seq update must never reach the index")
    } finally Seq(s"${src}_tombstones", s"${src}_pending", s"${src}_applied",
      s"${src}_doclens", src, s"${dest}_doclens", dest,
      s"${ref}_doclens", ref).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("band delete: deleted corpus doc stops pairing; compaction purges") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (20L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val table = uniq("graft_band_del_spec_")
    val path = tmp("graft_band_del_spec_")
    try {
      Dedup.writeBandIndex(corpus, "doc_id", "text", table, path, numBuckets = 4)
      def hits() = Dedup.probeBandIndex(spark, table, incoming, "doc_id", "text", 0.5)
        .collect().map(_.getLong(1)).toSet
      assert(hits() == Set(10L), "fixture must pair before the delete")
      IndexFamily.band(4).delete(spark, table, Seq(10L).toDF("doc_id"))
      assert(hits().isEmpty, "deleted doc still pairs with incoming batches")
      val ct = uniq("graft_band_del_spec_c_")
      val cp = tmp("graft_band_del_spec_c_")
      try {
        IndexFamily.band(4).compact(spark, table, ct, cp)
        assert(spark.table(ct).filter(col("old_id") === 10L).count() == 0,
          "compaction must purge tombstoned band rows")
        assert(!spark.catalog.tableExists(s"${ct}_tombstones"))
      } finally spark.sql(s"DROP TABLE IF EXISTS $ct")
    } finally Seq(s"${table}_tombstones", table).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("ivf upsert heals a doubled vec_id; tombstones settle") {
    val vecs = (0L until 24L).map(i =>
      (i, Array.tabulate(6)(d => math.cos(i * 5 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val src = uniq("graft_ivf_ups_spec_")
    val dest = uniq("graft_ivf_ups_spec_d_")
    val paths = (1 to 2).map(_ => tmp("graft_ivf_ups_spec_"))
    try {
      VectorOps.writeIvfIndex(vecs, src, paths(0), numCentroids = 3,
        trainIters = 1)
      // the defect: re-ingesting ids 2,3 naively doubles their rows
      val stale = vecs.filter(col("vec_id").isin(2L, 3L))
        .select(col("vec_id"),
          expr("transform(embedding, x -> -x)").cast("array<float>")
            .as("embedding"))
      IndexFamily.ivf.append(spark, src, stale)
      assert(spark.table(s"${src}_lists").filter(col("vec_id") === 2L)
        .count() == 2L, "fixture must carry the doubled-id defect")
      // plus a pending delete that the upsert must settle
      IndexFamily.ivf.delete(spark, src, Seq(7L).toDF("vec_id"))
      IndexFamily.ivf.upsert(spark, src, dest, Seq(paths(1)),
        vecs.filter(col("vec_id").isin(2L, 3L)))
      val perId = spark.table(s"${dest}_lists").groupBy(col("vec_id"))
        .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(perId.values.forall(_ == 1L),
        s"upserted generation must hold each id exactly once: $perId")
      assert(!perId.contains(7L), "pending tombstone must settle in the upsert")
      assert(perId.contains(2L) && perId.contains(3L))
      // the tombstoned id never surfaces from the upserted generation
      val queries = vecs.filter(col("vec_id") < 2)
      val got = VectorOps.probeIvfIndex(spark, dest, queries, k = 3,
        nProbe = 2).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!got.exists(_._2 == 7L), "deleted id served from upserted index")
      // ...and the surviving rows for the upserted ids carry the TRUE
      // embeddings, not the stale negated ones (checked on the stored
      // bytes — probes exclude self-matches by design, so content is
      // asserted directly)
      val stored = spark.table(s"${dest}_lists")
        .filter(col("vec_id").isin(2L, 3L))
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
      val truthMap = vecs.filter(col("vec_id").isin(2L, 3L))
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
      assert(stored == truthMap,
        s"upserted ids must store their TRUE embeddings: $stored vs $truthMap")
    } finally Seq(s"${src}_tombstones", s"${src}_cents", s"${src}_lists",
      s"${dest}_cents", s"${dest}_lists").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("sq8 upsert heals a doubled id by frozen re-encode; tombstones settle") {
    val vecs = (0L until 24L).map(i =>
      (i, Array.tabulate(6)(d => math.cos(i * 5 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val src = uniq("graft_sq8_ups_spec_")
    val dest = uniq("graft_sq8_ups_spec_d_")
    val paths = (1 to 2).map(_ => tmp("graft_sq8_ups_spec_"))
    try {
      VectorOps.writeIvfIndexSq8(vecs, src, paths(0), numCentroids = 3,
        trainIters = 1)
      // snapshot the PRISTINE codes for ids 2,3 before corrupting — the
      // healed generation must restore exactly these (frozen quantizer +
      // same scan-side quantization = bit-identical re-encode)
      def codes(t: String, ids: Seq[Long]) = spark.table(s"${t}_lists")
        .filter(col("vec_id").isin(ids: _*))
        .collect().map(r => (r.getLong(0), r.getSeq[Any](1).toList)).toSet
      val pristine = codes(src, Seq(2L, 3L))
      val stale = vecs.filter(col("vec_id").isin(2L, 3L))
        .select(col("vec_id"),
          expr("transform(embedding, x -> -x)").cast("array<float>")
            .as("embedding"))
      IndexFamily.sq8.append(spark, src, stale)
      assert(spark.table(s"${src}_lists").filter(col("vec_id") === 2L)
        .count() == 2L, "fixture must carry the doubled-id defect")
      IndexFamily.ivf.delete(spark, src, Seq(7L).toDF("vec_id"))
      IndexFamily.sq8.upsert(spark, src, dest, Seq(paths(1)),
        vecs.filter(col("vec_id").isin(2L, 3L)))
      val perId = spark.table(s"${dest}_lists").groupBy(col("vec_id"))
        .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(perId.values.forall(_ == 1L),
        s"upserted SQ8 generation must hold each id exactly once: $perId")
      assert(!perId.contains(7L), "pending tombstone must settle in the upsert")
      assert(codes(dest, Seq(2L, 3L)) == pristine,
        "healed codes must be bit-identical to the pristine frozen-quantizer encode")
      // deleted id never surfaces from the upserted generation
      val got = VectorOps.probeIvfIndexSq8(spark, dest,
          vecs.filter(col("vec_id") < 2), k = 3, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!got.exists(_._2 == 7L), "deleted id served from upserted SQ8 index")
    } finally Seq(s"${src}_tombstones", s"${src}_cents", s"${src}_lists",
      s"${dest}_cents", s"${dest}_lists").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("band upsert: stale band rows replaced; probe equals fresh build") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (20L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val src = uniq("graft_band_ups_spec_")
    val dest = uniq("graft_band_ups_spec_d_")
    val paths = (1 to 2).map(_ => tmp("graft_band_ups_spec_"))
    try {
      // v1 carries a STALE doc 11 whose text equals the incoming doc —
      // it would phantom-pair at jaccard 1.0
      val stale = corpus.withColumn("text",
        when(col("doc_id") === 11L,
          lit("alpha beta gamma delta epsilon zeta eta theta"))
          .otherwise(col("text")))
      Dedup.writeBandIndex(stale, "doc_id", "text", src, paths(0),
        numBuckets = 4)
      def hits(t: String) = Dedup.probeBandIndex(spark, t, incoming,
        "doc_id", "text", 0.5).collect().map(_.getLong(1)).toSet
      assert(hits(src) == Set(10L, 11L), "stale fixture must phantom-pair")
      IndexFamily.band(4).upsert(spark, src, dest, Seq(paths(1)),
        corpus.filter(col("doc_id") === 11L))
      assert(hits(dest) == Set(10L),
        "upsert must replace the stale band rows with the true text's")
      // each doc's rows appear once per band — no stale residue
      val perDoc = spark.table(dest).groupBy(col("old_id"), col("band"))
        .count().collect().map(_.getLong(2)).toSet
      assert(perDoc == Set(1L),
        "a (doc, band) must hold exactly one row after the upsert")
    } finally Seq(s"${src}_tombstones", src, dest).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("vector CDC settle orders deletes against later inserts/updates by event_seq") {
    // the embedding twin of the search-settle ordering case: per-id
    // histories with scrambled micro-batch arrival; the settled
    // generation must serve each id's FINAL embedding (or nothing)
    graft.functions.GraftFunctions.register(spark)
    val vecs = (0L until 24L).map(i =>
      (i, Array.tabulate(4)(d => math.sin(i * 5 + d).toFloat)))
      .toDF("vec_id", "embedding")
    def v(id: Long, scale: Float) = Array.tabulate(4)(d =>
      (math.sin(id * 5 + d) * scale).toFloat)
    val src = uniq("graft_vcdc_src_")
    val dest = uniq("graft_vcdc_dest_")
    val paths = (1 to 2).map(_ => tmp("graft_vcdc_"))
    def ev(rows: (String, Long, Array[Float], Long)*) =
      rows.toSeq.toDF("statement", "vec_id", "embedding", "event_seq")
    try {
      VectorOps.writeIvfIndex(vecs, src, paths(0), numCentroids = 2,
        trainIters = 1)
      // histories: 1 DELETE@40→UPDATE@50 (resurrect, updated embedding),
      // 2 DELETE@10→re-INSERT@20 (resurrect), 3 UPDATE@30 (heal),
      // 4 UPDATE@6→DELETE@7 (dead), 30 plain INSERT@21 — scrambled
      IngestStream.applyCdcFamilyBatch(spark, IndexFamily.ivf, src, ev(
        ("UPDATE", 3L, v(3, 2f), 30L),
        ("DELETE", 4L, null, 7L)), batchId = 0L)
      IngestStream.applyCdcFamilyBatch(spark, IndexFamily.ivf, src, ev(
        ("INSERT", 2L, v(2, 3f), 20L),
        ("UPDATE", 1L, v(1, 4f), 50L),
        ("INSERT", 30L, v(30, 1f), 21L)), batchId = 1L)
      IngestStream.applyCdcFamilyBatch(spark, IndexFamily.ivf, src, ev(
        ("DELETE", 2L, null, 10L),
        ("DELETE", 1L, null, 40L),
        ("UPDATE", 4L, v(4, 9f), 6L)), batchId = 2L)
      IngestStream.settleFamilyUpserts(spark, IndexFamily.ivf, src, dest,
        Seq(paths(1)))
      val stored = spark.table(s"${dest}_lists")
        .filter(col("vec_id").isin(1L, 2L, 3L, 4L, 30L))
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
      assert(stored.keySet == Set(1L, 2L, 3L, 4L, 30L) - 4L,
        s"dead id must purge, live ids must serve: ${stored.keySet}")
      assert(stored(1L) == v(1, 4f).toSeq, "update-after-delete must serve the update")
      assert(stored(2L) == v(2, 3f).toSeq, "delete-then-reinsert must serve the final embedding")
      assert(stored(3L) == v(3, 2f).toSeq, "plain update must heal the stale embedding")
      assert(stored(30L) == v(30, 1f).toSeq, "plain insert must survive the settle copy")
      // exactly one row per live id — no doubled ids through the loop
      val counts = spark.table(s"${dest}_lists").groupBy(col("vec_id"))
        .count().collect().map(_.getLong(1)).toSet
      assert(counts == Set(1L), s"settled generation doubled an id: $counts")
    } finally Seq(s"${src}_tombstones", s"${src}_pending", s"${src}_applied",
      s"${src}_cents", s"${src}_lists", s"${dest}_cents", s"${dest}_lists")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("band CDC settle orders deletes against later inserts/updates by event_seq") {
    // the band twin of the search/vector settle-ordering cases: per-doc
    // histories with scrambled micro-batch arrival; the settled
    // generation must pair each doc under its FINAL text (or not at all)
    val t = Map(
      "i1" -> "alpha beta gamma delta epsilon zeta eta theta",
      "i2" -> "one two three four five six seven eight",
      "i3" -> "red orange yellow green blue indigo violet pink",
      "i4" -> "north south east west up down left right",
      "f1" -> "f1a f1b f1c f1d f1e f1f f1g f1h",
      "f2" -> "f2a f2b f2c f2d f2e f2f f2g f2h",
      "f3" -> "f3a f3b f3c f3d f3e f3f f3g f3h",
      "f4" -> "f4a f4b f4c f4d f4e f4f f4g f4h",
      "f30" -> "g1 g2 g3 g4 g5 g6 g7 g8")
    val corpus = Seq((1L, t("i1")), (2L, t("i2")), (3L, t("i3")),
      (4L, t("i4"))).toDF("doc_id", "text")
    val src = uniq("graft_bcdc_src_")
    val dest = uniq("graft_bcdc_dest_")
    val paths = (1 to 2).map(_ => tmp("graft_bcdc_"))
    def ev(rows: (String, Long, String, Long)*) =
      rows.toSeq.toDF("statement", "doc_id", "text", "event_seq")
    try {
      Dedup.writeBandIndex(corpus, "doc_id", "text", src, paths(0),
        numBuckets = 4)
      // histories: 1 DELETE@40→UPDATE@50 (resurrect, final text f1),
      // 2 DELETE@10→re-INSERT@20 (resurrect, f2), 3 UPDATE@30 (heal,
      // f3), 4 UPDATE@6→DELETE@7 (dead), 30 plain INSERT@21 — scrambled
      IngestStream.applyCdcFamilyBatch(spark, IndexFamily.band(4), src, ev(
        ("UPDATE", 3L, t("f3"), 30L),
        ("DELETE", 4L, null, 7L)), batchId = 0L)
      IngestStream.applyCdcFamilyBatch(spark, IndexFamily.band(4), src, ev(
        ("INSERT", 2L, t("f2"), 20L),
        ("UPDATE", 1L, t("f1"), 50L),
        ("INSERT", 30L, t("f30"), 21L)), batchId = 1L)
      IngestStream.applyCdcFamilyBatch(spark, IndexFamily.band(4), src, ev(
        ("DELETE", 2L, null, 10L),
        ("DELETE", 1L, null, 40L),
        ("UPDATE", 4L, t("f4"), 6L)), batchId = 2L)
      IngestStream.settleFamilyUpserts(spark, IndexFamily.band(4), src, dest,
        Seq(paths(1)))
      // probe with each doc's FINAL text plus doc 3's STALE text: the
      // settled generation pairs live docs under final texts only
      val incoming = Seq((101L, t("f1")), (102L, t("f2")), (103L, t("f3")),
        (104L, t("f4")), (105L, t("f30")), (106L, t("i3")))
        .toDF("doc_id", "text")
      val pairs = Dedup.probeBandIndex(spark, dest, incoming,
          "doc_id", "text", 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((101L, 1L), (102L, 2L), (103L, 3L), (105L, 30L)),
        s"settled band generation must serve final texts only: $pairs")
      // exactly one row per (doc, band) — the resurrections' pre-delete
      // AND drain-time rows both dropped, re-admitted once
      val perDoc = spark.table(dest).groupBy(col("old_id"), col("band"))
        .count().collect().map(_.getLong(2)).toSet
      assert(perDoc == Set(1L),
        s"settled generation doubled a (doc, band) row: $perDoc")
      assert(spark.table(dest).filter(col("old_id") === 4L).count() == 0,
        "dead id must purge physically at the settle")
    } finally Seq(s"${src}_tombstones", s"${src}_pending",
      s"${src}_applied", src, dest).foreach(tb =>
      spark.sql(s"DROP TABLE IF EXISTS $tb"))
  }

  test("CDC loop iterates: the settled generation consumes the next wave and settles again") {
    // generation N's settle output is generation N+1's serving input —
    // the loop must COMPOSE across settles, or a deployment could only
    // ever settle once. Two waves, the second addressed to the settled
    // generation (including a resurrection of a doc the FIRST settle
    // physically purged), then the final generation is compared
    // postings-for-postings against a fresh build over the final corpus.
    val src = uniq("graft_iter_src_")
    val mid = uniq("graft_iter_mid_")
    val dest = uniq("graft_iter_dest_")
    val fresh = uniq("graft_iter_fresh_")
    val paths = (1 to 8).map(_ => tmp("graft_iter_"))
    def ev(rows: (String, Long, String, Long)*) =
      rows.toSeq.toDF("statement", "doc_id", "text", "event_seq")
    try {
      SearchOps.writeSearchIndex(docs, "doc_id", "text", src, paths(0),
        numBuckets = 4)
      SearchOps.writeDocLengths(spark, src, paths(1), numBuckets = 4)
      // wave 1 → src: doc 2 updated, doc 4 deleted
      IngestStream.applyCdcFamilyBatch(spark, IndexFamily.search(4), src, ev(
        ("UPDATE", 2L, "spark spark spark spark", 10L),
        ("DELETE", 4L, null, 11L)), batchId = 0L)
      IngestStream.settleSearchUpserts(spark, src, mid,
        paths(2), paths(3), numBuckets = 4)
      // wave 2 → the SETTLED generation: doc 4 re-inserted (it was
      // physically purged by settle 1 — a plain INSERT now), doc 1
      // updated
      IngestStream.applyCdcFamilyBatch(spark, IndexFamily.search(4), mid, ev(
        ("INSERT", 4L, "spark window four", 20L),
        ("UPDATE", 1L, "window window window", 21L)), batchId = 0L)
      IngestStream.settleSearchUpserts(spark, mid, dest,
        paths(4), paths(5), numBuckets = 4)
      // the final generation must equal a fresh build over the final
      // corpus — postings AND norms
      val finalCorpus = Seq(
        (1L, "window window window"),
        (2L, "spark spark spark spark"),
        (3L, "spark spark window table"),
        (4L, "spark window four")).toDF("doc_id", "text")
      SearchOps.writeSearchIndex(finalCorpus, "doc_id", "text", fresh,
        paths(6), numBuckets = 4)
      SearchOps.writeDocLengths(spark, fresh, paths(7), numBuckets = 4)
      def postings(t: String) = spark.table(t)
        .select(col("term"), col("doc_id"), col("tf"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      def norms(t: String) = spark.table(s"${t}_doclens")
        .select(col("doc_id"), col("dl"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(postings(dest) == postings(fresh),
        "generation N+1 must equal a fresh build over the final corpus")
      assert(norms(dest) == norms(fresh),
        "generation N+1 norms must equal the fresh build's")
    } finally Seq(src, s"${src}_doclens", s"${src}_tombstones",
      s"${src}_pending", s"${src}_applied",
      mid, s"${mid}_doclens", s"${mid}_tombstones", s"${mid}_pending",
      s"${mid}_applied", dest, s"${dest}_doclens",
      fresh, s"${fresh}_doclens").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("plain clones carry the tombstone sidecar; compaction settles it") {
    // ADVICE r12 #2: a compact=false clone of an index with pending
    // deletes must serve exactly what the source serves — previously it
    // copied rows verbatim and silently resurrected the deleted docs
    val src = uniq("graft_clone_ts_src_")
    val dest = uniq("graft_clone_ts_dest_")
    val paths = (1 to 3).map(_ => tmp("graft_clone_ts_"))
    try {
      SearchOps.writeSearchIndex(docs, "doc_id", "text", src, paths(0),
        numBuckets = 4)
      SearchOps.writeDocLengths(spark, src, paths(1), numBuckets = 4)
      IndexFamily.search(4).delete(spark, src, Seq(2L).toDF("doc_id"))
      IndexFamily.search(4).cloneTo(spark, src, dest, paths(2))
      assert(spark.catalog.tableExists(s"${dest}_tombstones"),
        "plain clone must carry the tombstone sidecar")
      val got = SearchOps.probeSearchIndex(spark, dest,
        Seq("spark", "window"), 10).collect().map(_.getLong(0)).toSet
      assert(got == Set(1L, 3L),
        s"clone must not resurrect the deleted doc: $got")
    } finally Seq(s"${src}_tombstones", s"${src}_doclens", src,
      s"${dest}_tombstones", s"${dest}_doclens", dest).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))

    // band family: same contract
    val bsrc = uniq("graft_clone_ts_band_")
    val bdest = uniq("graft_clone_ts_band_d_")
    val bpaths = (1 to 2).map(_ => tmp("graft_clone_ts_band_"))
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (20L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    try {
      Dedup.writeBandIndex(corpus, "doc_id", "text", bsrc, bpaths(0),
        numBuckets = 4)
      IndexFamily.band(4).delete(spark, bsrc, Seq(10L).toDF("doc_id"))
      IndexFamily.band(4).cloneTo(spark, bsrc, bdest, bpaths(1))
      val pairs = Dedup.probeBandIndex(spark, bdest, incoming,
        "doc_id", "text", 0.5).collect()
      assert(pairs.isEmpty,
        s"band clone must not resurrect the deleted doc: ${pairs.toSeq}")
    } finally Seq(s"${bsrc}_tombstones", bsrc,
      s"${bdest}_tombstones", bdest).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))

    // IVF family: same contract
    graft.functions.GraftFunctions.register(spark)
    val vecs = (0L until 16L).map(i =>
      (i, Array.tabulate(4)(d => math.sin(i * 3 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val isrc = uniq("graft_clone_ts_ivf_")
    val idest = uniq("graft_clone_ts_ivf_d_")
    val ipaths = (1 to 2).map(_ => tmp("graft_clone_ts_ivf_"))
    try {
      VectorOps.writeIvfIndex(vecs, isrc, ipaths(0), numCentroids = 2,
        trainIters = 1)
      val poison = vecs.filter(col("vec_id") < 2)
        .select((col("vec_id") + 900L).as("vec_id"), col("embedding"))
      IndexFamily.ivf.append(spark, isrc, poison)
      IndexFamily.ivf.delete(spark, isrc, poison.select(col("vec_id")))
      IndexFamily.ivf.cloneTo(spark, isrc, idest, ipaths(1))
      val got = VectorOps.probeIvfIndex(spark, idest,
        vecs.filter(col("vec_id") < 2), k = 3, nProbe = 2)
        .collect().map(_.getLong(1)).toSet
      assert(!got.exists(_ >= 900L),
        s"IVF clone must not resurrect the deleted vectors: $got")
    } finally Seq(s"${isrc}_tombstones", s"${isrc}_cents", s"${isrc}_lists",
      s"${idest}_tombstones", s"${idest}_cents", s"${idest}_lists")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("upserts reduce duplicate-id batches to one row per id") {
    // ADVICE r12 #4: a batch carrying two rows for one id (accumulated
    // CDC updates not reduced to latest-wins) must not write both —
    // that re-introduces the doubled-id defect the upserts prevent
    val src = uniq("graft_dup_ups_src_")
    val dest = uniq("graft_dup_ups_dest_")
    val paths = (1 to 4).map(_ => tmp("graft_dup_ups_"))
    try {
      SearchOps.writeSearchIndex(docs, "doc_id", "text", src, paths(0),
        numBuckets = 4)
      SearchOps.writeDocLengths(spark, src, paths(1), numBuckets = 4)
      val dupBatch = Seq(
        (3L, "spark window three alpha"),
        (3L, "spark window three omega")).toDF("doc_id", "text")
      IndexFamily.search(4).upsert(spark, src, dest, Seq(paths(2), paths(3)),
        dupBatch)
      val dl = spark.table(s"${dest}_doclens").groupBy(col("doc_id"))
        .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dl.values.forall(_ == 1L),
        s"duplicate-id upsert doubled a norms row: $dl")
      // deterministic winner: max by content
      val terms = spark.table(dest).filter(col("doc_id") === 3L)
        .select(col("term")).collect().map(_.getString(0)).toSet
      assert(terms.contains("omega") && !terms.contains("alpha"),
        s"duplicate-id reduction must be deterministic (max wins): $terms")
    } finally Seq(s"${src}_doclens", src, s"${dest}_doclens", dest)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

    // IVF: two embeddings for one vec_id → exactly one stored row
    graft.functions.GraftFunctions.register(spark)
    val vecs = (0L until 16L).map(i =>
      (i, Array.tabulate(4)(d => math.cos(i * 3 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val isrc = uniq("graft_dup_ups_ivf_")
    val idest = uniq("graft_dup_ups_ivf_d_")
    val ipaths = (1 to 2).map(_ => tmp("graft_dup_ups_ivf_"))
    try {
      VectorOps.writeIvfIndex(vecs, isrc, ipaths(0), numCentroids = 2,
        trainIters = 1)
      val dup = vecs.filter(col("vec_id") === 2L)
        .unionAll(vecs.filter(col("vec_id") === 2L)
          .select(col("vec_id"),
            expr("transform(embedding, x -> -x)").cast("array<float>")
              .as("embedding")))
      IndexFamily.ivf.upsert(spark, isrc, idest, Seq(ipaths(1)), dup)
      val n = spark.table(s"${idest}_lists").filter(col("vec_id") === 2L).count()
      assert(n == 1L, s"duplicate-id IVF upsert stored $n rows for one id")
    } finally Seq(s"${isrc}_cents", s"${isrc}_lists",
      s"${idest}_cents", s"${idest}_lists").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))

    // band: duplicate-id batch → one row per (doc, band)
    val bsrc = uniq("graft_dup_ups_band_")
    val bdest = uniq("graft_dup_ups_band_d_")
    val bpaths = (1 to 2).map(_ => tmp("graft_dup_ups_band_"))
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    try {
      Dedup.writeBandIndex(corpus, "doc_id", "text", bsrc, bpaths(0),
        numBuckets = 4)
      val dup = Seq(
        (11L, "nine ten eleven twelve thirteen fourteen fifteen sixteen"),
        (11L, "one two three four five six seven eight"))
        .toDF("doc_id", "text")
      IndexFamily.band(4).upsert(spark, bsrc, bdest, Seq(bpaths(1)), dup)
      val perBand = spark.table(bdest)
        .filter(col("old_id") === 11L)
        .groupBy(col("band")).count().collect().map(_.getLong(1)).toSet
      assert(perBand == Set(1L),
        s"duplicate-id band upsert left multiple rows per band: $perBand")
    } finally Seq(bsrc, bdest).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("ivf delete: deleted vector leaves top-k; compaction and retrain settle it") {
    val vecs = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 7 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 2)
    val table = uniq("graft_ivf_del_spec_")
    val path = tmp("graft_ivf_del_spec_")
    try {
      VectorOps.writeIvfIndex(vecs, table, path, numCentroids = 4, trainIters = 1)
      // poison: exact copies of the queries — guaranteed cosine-1.0 rank-1
      val poison = queries.select((col("vec_id") + 500L).as("vec_id"),
        col("embedding"))
      IndexFamily.ivf.append(spark, table, poison)
      def neighbors() = VectorOps.probeIvfIndex(spark, table, queries, k = 3,
        nProbe = 2).collect().map(_.getLong(1)).toSet
      assert(neighbors().exists(_ >= 500L), "poison must surface before delete")
      IndexFamily.ivf.delete(spark, table, poison.select(col("vec_id")))
      assert(!neighbors().exists(_ >= 500L), "tombstoned vectors still served")
      val ct = uniq("graft_ivf_del_spec_c_")
      val cp = tmp("graft_ivf_del_spec_c_")
      try {
        IndexFamily.ivf.compact(spark, table, ct, cp)
        assert(spark.table(s"${ct}_lists").filter(col("vec_id") >= 500L).count() == 0,
          "compaction must purge tombstoned vectors")
        assert(!spark.catalog.tableExists(s"${ct}_tombstones"))
      } finally Seq(s"${ct}_cents", s"${ct}_lists").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
      val rt = uniq("graft_ivf_del_spec_r_")
      val rp = tmp("graft_ivf_del_spec_r_")
      try {
        VectorOps.retrainIvfIndex(spark, table, rt, rp, trainIters = 1)
        assert(spark.table(s"${rt}_lists").filter(col("vec_id") >= 500L).count() == 0,
          "retrain must train and serve only the live corpus")
      } finally Seq(s"${rt}_cents", s"${rt}_lists").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    } finally Seq(s"${table}_tombstones", s"${table}_cents", s"${table}_lists")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("mrl append into an emptied, compacted generation is probe-visible") {
    graft.functions.GraftFunctions.register(spark)
    val vecs = (0L until 20L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 7 + d * 0.37).toFloat)))
      .toDF("vec_id", "embedding")
    val src = uniq("graft_mrl_empty_src_")
    val dest = uniq("graft_mrl_empty_dest_")
    val paths = Seq.fill(2)(tmp("graft_mrl_empty_"))
    try {
      VectorOps.writeMrlIndex(vecs, src, paths(0), prefixDims = 4,
        numCentroids = 4, trainIters = 1)
      // every id tombstoned, then settled: no `_prefix` row is left to
      // carry the prefix width, only the frozen `_cents`
      IndexFamily.mrl.delete(spark, src, vecs.select(col("vec_id")))
      IndexFamily.mrl.compact(spark, src, dest, paths(1))
      assert(spark.table(s"${dest}_prefix").count() == 0)
      val fresh = vecs.filter(col("vec_id") === 3L)
        .select(lit(100L).as("vec_id"), col("embedding"))
      IndexFamily.mrl.append(spark, dest, fresh)
      assert(spark.table(s"${dest}_prefix")
        .select(size(col("prefix"))).as[Int].collect().toSeq == Seq(4))
      val served = VectorOps.probeMrlIndex(spark, dest,
          fresh.select(lit(999L).as("vec_id"), col("embedding")), k = 3,
          prefixDims = 4, shortlist = 8)
        .select(col("neighbor_id")).as[Long].collect().toSeq
      assert(served == Seq(100L), "the appended vector must be served")
    } finally {
      Seq(src, dest).flatMap(t => (IndexFamily.mrl.tables :+ "_tombstones")
        .map(t + _)).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      paths.foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    }
  }

  private lazy val graphVecs = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 7 + d * 0.37).toFloat)))
    .toDF("vec_id", "embedding")

  private def dropGraph(ts: String*): Unit =
    ts.flatMap(t => (IndexFamily.graph.tables :+ "_tombstones").map(t + _))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  test("graph clone carries the tombstones; deleted ids stay unserved") {
    graft.functions.GraftFunctions.register(spark)
    val src = uniq("graft_graph_clone_ts_")
    val dest = uniq("graft_graph_clone_ts_d_")
    val paths = (1 to 2).map(_ => tmp("graft_graph_clone_ts_"))
    try {
      GraphOps.writeGraphIndex(graphVecs, src, paths(0), trainIters = 1)
      IndexFamily.graph.delete(spark, src, Seq(0L, 1L).toDF("vec_id"))
      IndexFamily.graph.cloneTo(spark, src, dest, paths(1))
      def sidecar(t: String) = spark.table(s"${t}_tombstones")
        .collect().map(_.toString).sorted.toSeq
      assert(spark.catalog.tableExists(s"${dest}_tombstones"),
        "the clone lost the tombstone sidecar")
      assert(sidecar(dest) == sidecar(src))
      // each query's own vector would be its rank-1 neighbor
      val got = GraphOps.probeGraphIndex(spark, dest,
        graphVecs.filter(col("vec_id") < 4), k = 3)
        .collect().map(_.getLong(1)).toSet
      assert(got.nonEmpty && !got.exists(_ < 2L),
        s"the clone served deleted ids: $got")
    } finally {
      dropGraph(src, dest)
      paths.foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    }
  }

  test("graph upsert reduces a duplicate-id batch to one node") {
    graft.functions.GraftFunctions.register(spark)
    val src = uniq("graft_graph_dup_ups_")
    val dest = uniq("graft_graph_dup_ups_d_")
    val paths = (1 to 2).map(_ => tmp("graft_graph_dup_ups_"))
    try {
      GraphOps.writeGraphIndex(graphVecs, src, paths(0), trainIters = 1)
      val dup = graphVecs.filter(col("vec_id") === 5L)
        .unionAll(graphVecs.filter(col("vec_id") === 5L)
          .select(col("vec_id"),
            expr("transform(embedding, x -> -x)").cast("array<float>")
              .as("embedding")))
      IndexFamily.graph.upsert(spark, src, dest, Seq(paths(1)), dup)
      def rows(t: String, key: String) =
        spark.table(dest + t).filter(col(key) === 5L)
      assert(rows("_nodes", "vec_id").count() == 1L,
        "duplicate-id graph upsert stored the id twice in _nodes")
      assert(rows("_cells", "vec_id").count() == 1L,
        "duplicate-id graph upsert stored the id twice in _cells")
      // one append walk: one out-edge per rank, none left from the source
      val ranks = rows("_edges", "src").select(col("rk")).as[Long]
        .collect().sorted.toSeq
      assert(ranks == (1L to GraphOps.KnnK.toLong),
        s"id 5 must keep only one walk's out-edges, got ranks $ranks")
      // and they score against the one stored vector
      val stale = rows("_edges", "src")
        .join(spark.table(s"${dest}_nodes")
          .select(col("vec_id").as("dst"), col("embedding").as("d")), "dst")
        .crossJoin(rows("_nodes", "vec_id").select(col("embedding").as("w")))
        .filter(round(VectorOps.cosine(col("w"), col("d")), 6) =!=
          col("cos_sim"))
      assert(stale.count() == 0L,
        "an out-edge of id 5 scores against a vector it no longer has")
    } finally {
      dropGraph(src, dest)
      paths.foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    }
  }
}
