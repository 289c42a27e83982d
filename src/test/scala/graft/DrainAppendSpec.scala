package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{IndexFamily, SearchOps}
import graft.streaming.IngestStream

/** What a CDC drain's appends write and who sees them:
  *
  *  - the rows and schema [[SearchOps.appendDocLengths]] appends, on a
  *    fixture with a repeated id, an empty, a NULL, a whitespace-only
  *    and a punctuation-only text;
  *  - a search probe clone that already scanned an index, and a settle
  *    run from a session that already read the sidecars, both see rows
  *    appended from another session;
  *  - an append into an existing table whose columns are in another
  *    order than the appended frame's lands every value in its own
  *    column. */
class DrainAppendSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def uniq(p: String) =
    p + java.util.UUID.randomUUID().toString.replace("-", "")
  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private def dropAll(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def docsIn(s: SparkSession, rows: (Long, String)*): DataFrame =
    s.createDataFrame(rows).toDF("doc_id", "text")

  private def events(s: SparkSession,
      rows: (String, Long, String, Long)*): DataFrame =
    s.createDataFrame(rows).toDF("statement", "doc_id", "text", "event_seq")

  private val base = Seq(1L -> "spark window kafka", 2L -> "spark window",
    3L -> "stream index", 4L -> "delta merge")

  test("appendDocLengths appends one summed (doc_id, dl) row per doc with tokens") {
    val t = uniq("graft_doclens_pin_")
    try {
      // creates the sidecar: 2 sums over two rows, 3 (empty) and 4
      // (NULL) have no tokens, 5 is three punctuation tokens, 6 is two
      // tokens between runs of spaces, 7 sums an empty and a one-token row
      SearchOps.appendDocLengths(spark, t, docsIn(spark,
        1L -> "kafka stream kafka", 2L -> "spark window",
        2L -> "window index delta", 3L -> "", 4L -> null,
        5L -> "!!! ,,, ...", 6L -> "  spaced   out  ", 7L -> "",
        7L -> "merge"), "doc_id", "text", numBuckets = 4)
      // appends to it: an id already present gets a second row
      SearchOps.appendDocLengths(spark, t, docsIn(spark,
        8L -> "shard shard shard shard", 1L -> "kafka", 9L -> "   "),
        "doc_id", "text", numBuckets = 4)
      val dl = spark.table(s"${t}_doclens")
      assert(dl.schema.toDDL == "doc_id BIGINT,dl BIGINT")
      val bucket = spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(s"${t}_doclens")).bucketSpec
        .map(b => (b.numBuckets, b.bucketColumnNames, b.sortColumnNames))
      assert(bucket == Some((4, Seq("doc_id"), Seq("doc_id"))))
      assert(dl.as[(Long, Long)].collect().sorted.toSeq == Seq(
        1L -> 1L, 1L -> 3L, 2L -> 5L, 5L -> 3L, 6L -> 2L, 7L -> 1L, 8L -> 4L))
    } finally dropAll(s"${t}_doclens")
  }

  test("a probe clone that already scanned the index serves another session's appends and deletes") {
    val t = uniq("graft_probe_fresh_")
    val family = IndexFamily.search(4)
    try {
      SearchOps.writeSearchIndex(base.toDF("doc_id", "text"), "doc_id",
        "text", t, tmp("graft_probe_fresh_"), numBuckets = 4)
      SearchOps.writeDocLengths(spark, t, tmp("graft_probe_fresh_dl_"),
        numBuckets = 4)
      def served(probe: (SparkSession, String, Seq[String], Int) => DataFrame) =
        probe(spark, t, Seq("kafka"), 10).select("doc_id").as[Long]
          .collect().toSeq
      assert(served(SearchOps.probeSearchIndex) == Seq(1L))
      assert(served(SearchOps.searchBm25) == Seq(1L))
      val other = spark.newSession()
      family.append(other, t, docsIn(other, 9L -> "kafka kafka fresh"))
      assert(served(SearchOps.probeSearchIndex) == Seq(9L, 1L))
      assert(served(SearchOps.searchBm25).sorted == Seq(1L, 9L))
      family.delete(other, t,
        other.createDataFrame(Seq(Tuple1(1L))).toDF("doc_id"))
      assert(served(SearchOps.probeSearchIndex) == Seq(9L))
      assert(served(SearchOps.searchBm25) == Seq(9L))
    } finally dropAll(s"${t}_tombstones", s"${t}_doclens", t)
  }

  test("a settle from a session that already read the sidecars sees another session's drain") {
    val src = uniq("graft_settle_fresh_src_")
    val dest = uniq("graft_settle_fresh_dest_")
    val family = IndexFamily.search(4)
    try {
      SearchOps.writeSearchIndex(base.toDF("doc_id", "text"), "doc_id",
        "text", src, tmp("graft_settle_fresh_"), numBuckets = 4)
      SearchOps.writeDocLengths(spark, src, tmp("graft_settle_fresh_dl_"),
        numBuckets = 4)
      val drain = spark.newSession()
      IngestStream.applyCdcFamilyBatch(drain, family, src, events(drain,
        ("UPDATE", 3L, "stream index kafka", 10L),
        ("DELETE", 4L, "", 11L)), batchId = 0L)
      // the settling session lists both sidecars before the next batch
      assert(spark.table(s"${src}_pending").count() == 1L)
      assert(spark.table(s"${src}_tombstones").count() == 1L)
      IngestStream.applyCdcFamilyBatch(drain, family, src, events(drain,
        ("UPDATE", 2L, "spark window kafka", 20L),
        ("DELETE", 1L, "", 21L)), batchId = 1L)
      IngestStream.settleSearchUpserts(spark, src, dest,
        tmp("graft_settle_fresh_p_"), tmp("graft_settle_fresh_d_"),
        numBuckets = 4)
      assert(spark.table(dest).select("doc_id").distinct().as[Long]
        .collect().sorted.toSeq == Seq(2L, 3L))
      assert(spark.table(dest).filter(col("term") === "kafka")
        .select("doc_id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
      assert(spark.table(s"${dest}_doclens").as[(Long, Long)].collect()
        .sorted.toSeq == Seq(2L -> 3L, 3L -> 3L))
    } finally dropAll(s"${src}_tombstones", s"${src}_pending",
      s"${src}_applied", s"${src}_doclens", src, s"${dest}_doclens", dest)
  }

  test("appends into sidecars with another column order land each value in its own column") {
    val t = uniq("graft_by_name_")
    val family = IndexFamily.search(4)
    try {
      SearchOps.writeSearchIndex(base.toDF("doc_id", "text"), "doc_id",
        "text", t, tmp("graft_by_name_"), numBuckets = 4)
      Seq((500L, 50L)).toDF("seq", "doc_id")
        .write.format("parquet").saveAsTable(s"${t}_tombstones")
      Seq(("UPDATE", 600L, "old text", 60L))
        .toDF("statement", "seq", "text", "doc_id")
        .write.format("parquet").saveAsTable(s"${t}_pending")
      IngestStream.applyCdcFamilyBatch(spark, family, t, events(spark,
        ("DELETE", 2L, "", 7L),
        ("UPDATE", 3L, "stream index fresh", 8L)), batchId = 0L)
      family.delete(spark, t, Seq((9L, 4L)).toDF("seq", "doc_id"))
      assert(spark.table(s"${t}_tombstones").columns.toSeq ==
        Seq("seq", "doc_id"))
      assert(spark.table(s"${t}_tombstones").select("doc_id", "seq")
        .as[(Long, Long)].collect().sorted.toSeq ==
        Seq(2L -> 7L, 4L -> 9L, 50L -> 500L))
      assert(spark.table(s"${t}_pending")
        .select("doc_id", "text", "seq", "statement")
        .as[(Long, String, Long, String)].collect().sorted.toSeq == Seq(
          (3L, "stream index fresh", 8L, "UPDATE"),
          (60L, "old text", 600L, "UPDATE")))
    } finally dropAll(s"${t}_tombstones", s"${t}_pending", s"${t}_applied",
      t)
  }
}
