package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.IngestStream

/** Self-oracle for the `stream_ingest` entry: the streaming form runs the
  * SAME [[graft.operators.PipelineOps.flagIngestBatch]] per micro-batch
  * that the oracle-gated `pipeline_ingest_batch` capstone runs once, so
  * the accumulated stream decisions must equal the batch decisions
  * EXACTLY — and the run must actually have been split across multiple
  * micro-batches for the parity to mean anything (per-doc flags are
  * independent of micro-batch boundaries; this is what makes the
  * continuous form correct at any trigger cadence). */
class StreamIngestSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark

  private val dir = "/root/testdata/sf0.001"

  private def key(r: Row) =
    (r.getLong(0), r.getDouble(1), r.getLong(2),
      r.getBoolean(3), r.getBoolean(4), r.getBoolean(5))

  test("stream decisions equal the batch capstone across multiple micro-batches") {
    graft.functions.GraftFunctions.register(spark)
    val src = graft.streaming.CdcStream.readEventStream(
      spark, StreamingQueries.batchDocsDir(spark, dir), maxFilesPerTrigger = 1)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
    val batchIds = scala.collection.mutable.Set.empty[Long]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ingest_spec_ckpt_").toString
    val q = IngestStream.ingestSink(src, TextQueries.bandIndexFor(spark, dir),
      Tables.documents(spark, dir).filter(col("doc_id") < 10), ckpt,
      (flags, id) => buf.synchronized { batchIds += id; buf ++= flags.collect() })
    q.awaitTermination()

    assert(batchIds.size > 1,
      s"expected multiple micro-batches (4 source files), got $batchIds")
    val streamed = buf.map(key).toSet
    val batch = SparkEntry.queries("pipeline_ingest_batch")(spark, dir)
      .collect().map(key).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      "streaming decisions diverged from the batch capstone")
  }

  test("matview loop: sequential generations, replayed batch is a no-op") {
    import spark.implicits._
    val base = "graft_test_matview_" + System.nanoTime()
    Seq((1L, 2L, 100L), (2L, 1L, 50L)).toDF("k", "n", "m")
      .write.format("parquet").saveAsTable(s"${base}_g0")
    try {
      val b1 = Seq((1L, 1L, 30L)).toDF("k", "n", "m")   // insert into group 1
      val b2 = Seq((2L, -1L, -50L)).toDF("k", "n", "m") // group 2 dies
      IngestStream.applyMatviewBatch(spark, base, b1, 0L, Seq("k"), "n")
      // replay of batch 0 must not double-apply
      IngestStream.applyMatviewBatch(spark, base, b1, 0L, Seq("k"), "n")
      IngestStream.applyMatviewBatch(spark, base, b2, 1L, Seq("k"), "n")
      val cur = IngestStream.matviewCurrent(spark, base)
      assert(cur == s"${base}_g2", s"two applied batches -> g2, got $cur")
      val rows = spark.table(cur).orderBy("k")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.toSeq == Seq((1L, 3L, 130L)))
    } finally
      Seq("_g0", "_g1", "_g2", "_applied").foreach(sfx =>
        spark.sql(s"DROP TABLE IF EXISTS ${base}$sfx"))
  }

  // stops the shared context, so it stays the suite's last test
  test("stream_ingest leaves no checkpoint or output dir once the session stops") {
    val s = SparkTestSession.spark
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def dirs(): Set[String] = tmp.list().toSet.filter(n =>
      n.startsWith("graft_ingest_ckpt_") || n.startsWith("graft_ingest_out_"))
    val before = dirs()
    val runs = Seq.fill(2)(
      SparkEntry.queries("stream_ingest")(s, dir).collect().toSeq)
    assert(runs.head.nonEmpty && runs.head == runs(1))
    val made = dirs() -- before
    assert(made.size == 2 && made.forall(_.startsWith("graft_ingest_out_")),
      s"expected one output dir per call and no checkpoint: $made")
    s.stop()
    assert((dirs() -- before).isEmpty,
      s"dirs left after the session stopped: ${dirs() -- before}")
  }
}
