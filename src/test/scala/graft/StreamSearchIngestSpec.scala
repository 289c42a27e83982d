package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.streaming.{CdcStream, IngestStream}
import graft.operators.{IndexFamily, SearchOps, VectorOps}

/** Continuous retrieval-index maintenance
  * ([[IngestStream.appendSink]]): documents streamed in one-file
  * micro-batches are admitted to a standing search index — postings AND
  * norms sidecar — through the same append operators the batch path
  * gates. Pins that (1) the stream really decomposed into multiple
  * micro-batches (checkpoint offsets), and (2) the drained index equals
  * a fresh full build for both the tf and the BM25 probe. */
class StreamSearchIngestSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("streamed appends == fresh full build; multiple micro-batches ran") {
    val baseDocs = Seq(
      (1L, "spark window spark query"),
      (2L, "spark window window window")).toDF("doc_id", "text")
    val streamDocs = Seq(
      (3L, "spark catalyst window plans"),
      (4L, "window functions in spark"),
      (5L, "unrelated text entirely")).toDF("doc_id", "text")
    val allDocs = baseDocs.unionAll(streamDocs)

    val table = "graft_stream_search_spec_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val fTable = table + "_f"
    val dirs = (1 to 6).map(_ =>
      java.nio.file.Files.createTempDirectory("graft_stream_search_").toString)
    try {
      // standing index from the base docs
      SearchOps.writeSearchIndex(baseDocs, "doc_id", "text", table, dirs(0),
        numBuckets = 4)
      SearchOps.writeDocLengths(spark, table, dirs(1), numBuckets = 4)
      // the arriving docs as a 3-file dir → 3 one-file micro-batches
      streamDocs.repartition(3).write.mode("overwrite").parquet(dirs(2))
      val src = CdcStream.readEventStream(spark, dirs(2), maxFilesPerTrigger = 1)
      IngestStream.appendSink(src, IndexFamily.search(4), table, dirs(3),
        Trigger.AvailableNow()).awaitTermination()
      // 1. the decomposition was real: one checkpoint offset per batch
      val offsets = new java.io.File(s"${dirs(3)}/offsets").listFiles()
        .count(f => f.getName.forall(_.isDigit))
      assert(offsets >= 2, s"expected multiple micro-batches, got $offsets")
      // 2. postings AND sidecar cover every doc
      assert(spark.table(s"${table}_doclens").count() == allDocs.count())
      // 3. probes equal a fresh full build — tf and BM25 alike
      SearchOps.writeSearchIndex(allDocs, "doc_id", "text", fTable, dirs(4),
        numBuckets = 4)
      SearchOps.writeDocLengths(spark, fTable, dirs(5))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.map(_.toSeq)
      assert(rows(SearchOps.probeSearchIndex(spark, table, Seq("spark", "window"), 10)) ==
        rows(SearchOps.probeSearchIndex(spark, fTable, Seq("spark", "window"), 10)))
      assert(rows(SearchOps.searchBm25(spark, table, Seq("spark", "window"), 10)) ==
        rows(SearchOps.searchBm25(spark, fTable, Seq("spark", "window"), 10)))
    } finally Seq(table, fTable).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS ${t}_doclens")
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("a CDC micro-batch's concurrent writes run as the stream's own jobs") {
    // every job the batch starts, pool threads included, must carry the
    // query's id and job group: query.stop() cancels by job group, and
    // listeners attribute by query id. Two queries in a row, so a pool
    // thread that merely inherited the first query's properties when it
    // was created carries the wrong identity into the second.
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[
      java.util.Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).getOrElse(new java.util.Properties))
    }
    def group(p: java.util.Properties) = p.getProperty("spark.jobGroup.id")
    val sc = spark.sparkContext
    // the bus delivers in order: the batch's jobs are exactly those seen
    // between a marker job run before the query and one run after it
    def marker(name: String): Unit = {
      sc.setJobGroup(name, name)
      try spark.range(1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try for (round <- 1 to 2) {
      val table = "graft_stream_cdc_identity_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val dirs = (1 to 4).map(_ => java.nio.file.Files
        .createTempDirectory("graft_stream_cdc_identity_").toString)
      try {
        SearchOps.writeSearchIndex(Seq(
            (1L, "spark window spark query"),
            (2L, "spark window window window")).toDF("doc_id", "text"),
          "doc_id", "text", table, dirs(0), numBuckets = 4)
        SearchOps.writeDocLengths(spark, table, dirs(1), numBuckets = 4)
        Seq(("INSERT", 3L, "spark catalyst window plans", 10L),
            ("UPDATE", 1L, "spark window rewritten", 11L),
            ("DELETE", 2L, null, 12L))
          .toDF("statement", "doc_id", "text", "event_seq").coalesce(1)
          .write.mode("overwrite").parquet(dirs(2))
        // the reader infers its schema with a job of this thread
        val events =
          CdcStream.readEventStream(spark, dirs(2), maxFilesPerTrigger = 1)
        val (before, after) = (s"before-$round", s"after-$round")
        marker(before)
        val query = IngestStream.cdcIndexSink(events, table, dirs(3),
          numBuckets = 4)
        query.awaitTermination()
        marker(after)
        val deadline = System.nanoTime() + 30000000000L
        while (!jobs.asScala.exists(group(_) == after) &&
            System.nanoTime() < deadline) Thread.sleep(20)
        val seen = jobs.asScala.toSeq
        val batchJobs = seen.slice(seen.lastIndexWhere(group(_) == before) + 1,
          seen.indexWhere(group(_) == after))
        // at least the five writes: postings, norms, tombstones,
        // pending, ledger
        assert(batchJobs.size >= 5, s"round $round: ${batchJobs.size} jobs")
        batchJobs.foreach { p =>
          assert(p.getProperty("sql.streaming.queryId") == query.id.toString,
            s"round $round: a batch job lost the query id: $p")
          assert(group(p) == query.runId.toString,
            s"round $round: a batch job lost the job group: $p")
        }
      } finally (Seq("", "_doclens") ++ graft.operators.IndexFamily.sidecars)
        .foreach(sfx => spark.sql(s"DROP TABLE IF EXISTS $table$sfx"))
    } finally sc.removeSparkListener(listener)
  }

  test("IVF sink: streamed frozen-quantizer appends == direct batch appends") {
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val k = SimilarityQueries.ivfK(emb)
    val table = "graft_stream_ivf_spec_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val dTable = table + "_d"
    val dirs = (1 to 4).map(_ =>
      java.nio.file.Files.createTempDirectory("graft_stream_ivf_").toString)
    try {
      VectorOps.writeIvfIndex(emb, table, dirs(0), numCentroids = k, trainIters = 2)
      VectorOps.writeIvfIndex(emb, dTable, dirs(1), numCentroids = k, trainIters = 2)
      val batch = emb.filter(col("vec_id") < 12)
        .select((col("vec_id") + 700000).as("vec_id"), col("embedding"))
      // streamed into one index (3 one-file micro-batches)...
      batch.repartition(3).write.mode("overwrite").parquet(dirs(2))
      val src = CdcStream.readEventStream(spark, dirs(2), maxFilesPerTrigger = 1)
      IngestStream.appendSink(src, IndexFamily.ivf, table, dirs(3),
        Trigger.AvailableNow()).awaitTermination()
      // ...appended directly to the other
      IndexFamily.ivf.append(spark, dTable, batch)
      def lists(t: String) = spark.table(s"${t}_lists")
        .select(col("vec_id"), col("list_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(lists(table) == lists(dTable),
        "streamed appends diverged from the direct batch append")
      val offsets = new java.io.File(s"${dirs(3)}/offsets").listFiles()
        .count(f => f.getName.forall(_.isDigit))
      assert(offsets >= 2, s"expected multiple micro-batches, got $offsets")
    } finally Seq(table, dTable).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS ${t}_cents")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_lists")
    }
  }
}
