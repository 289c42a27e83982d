package perfbench

import java.io.File
import scala.collection.immutable.TreeMap
import scala.collection.mutable
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.functions.col
import graft.operators.{CdcOps, Dedup, Generations, SearchOps, VectorOps}
import graft.streaming.{CdcStream, IngestStream}

/** `index_stream`: a long-running CDC index-maintenance stream (the search
  * family, `IngestStream.cdcIndexSink`). Each op lands one small seeded
  * micro-batch of INSERT/UPDATE/DELETE events and waits until the stream
  * has applied it; every [[IndexStream.SettleEvery]]-th op also settles
  * the pending upserts into a new generation, publishes it under the
  * serving name, probes it for the newest insert (visibility), and then
  * serves one round over the window's changes: a near-duplicate screen of
  * the new documents against the corpus band index, their nearest
  * neighbours in the corpus IVF index, and a page of the window's events
  * from the CDC queue (page count, keyset drain, ack). */
class IndexStream(ctx: Ctx) extends Workload {
  import IndexStream._
  private val spark = ctx.spark
  import spark.implicits._

  private var pass = 0
  private var query: StreamingQuery = _
  private var src = ""
  private var view = ""
  private var events: File = _
  private var stage: File = _
  private var rng: java.util.SplittableRandom = _
  private var state = TreeMap.empty[Long, String]
  private val live = mutable.ArrayBuffer.empty[Long]
  private val pendingInserts = mutable.ArrayBuffer.empty[Long]
  private var nextId = 0L
  private var seq = 0L
  private var batch = 0
  private var landedBatches = 0
  private var generation = 0
  private val landTimes = mutable.ArrayBuffer.empty[Long]
  private var marker = ("", -1L)
  private var staged: File = _
  private val fresh = mutable.ArrayBuffer.empty[Double]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var settledState: Option[(Int, TreeMap[Long, String])] = None
  private val digests = mutable.ArrayBuffer.empty[String]
  private var builds = 0
  private var buildSecs = 0.0
  private var band = ""
  private var ivf = ""
  private var ivfOracle: IvfOracle = _
  private var baseDocs = Array.empty[(Long, String)]
  private val windowInserts = mutable.ArrayBuffer.empty[(Long, String)]
  private val reposts = mutable.ArrayBuffer.empty[(Long, Long)]
  private var settledSeq = 0L

  def sizes: String =
    s"documents=$Docs events_per_op=$BatchEvents (${Inserts} insert, ${Updates} update, " +
      s"${Deletes} delete) settle_every=$SettleEvery ops buckets=$Buckets ivf_lists=$IvfLists " +
      s"nprobe=$NProbe queue_page=$PageSize warmup_ops=$WarmupOps"

  /** Enough ops to reach the first measured settle and the op after it. */
  override def minOps: Int = SettleEvery
  override def epochBuilds: (Int, Double) = (builds, buildSecs)
  override def ingestQueryIds: Set[String] =
    Option(query).map(_.id.toString).toSet

  private def timedBuild(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    buildSecs += (System.nanoTime() - t0) / 1e9
    builds += 1
  }

  def setup(p: Int): Unit = {
    pass = p
    src = ctx.table(p, "src")
    view = ctx.table(p, "view")
    events = ctx.dir(p, "events")
    stage = ctx.dir(p, "stage")
    rng = new java.util.SplittableRandom(ctx.seed)
    val docs = Gen.documents(ctx.seed, Docs)
    baseDocs = docs
    state = TreeMap(docs.toSeq: _*)
    live.clear(); live ++= docs.map(_._1)
    pendingInserts.clear(); landTimes.clear(); fresh.clear(); failures.clear()
    settledState = None
    windowInserts.clear(); reposts.clear(); settledSeq = 0L
    nextId = Docs.toLong; seq = 0L; batch = 0; landedBatches = 0; generation = 0
    builds = 0; buildSecs = 0.0
    if (p == 0) digests += Gen.sha256(docs.iterator.map(d => s"${d._1}:${d._2}"))
    ctx.step("index_build") {
      timedBuild(SearchOps.writeSearchIndex(docs.toSeq.toDF("doc_id", "text"),
        "doc_id", "text", src, ctx.dir(p, "src").getPath, Buckets))
      timedBuild(SearchOps.writeDocLengths(spark, src, ctx.dir(p, "src_dl").getPath, Buckets))
    }
    band = ctx.table(p, "band")
    ctx.step("band_build")(timedBuild(Dedup.writeBandIndex(docs.toSeq.toDF("doc_id", "text"),
      "doc_id", "text", band, ctx.dir(p, "band").getPath)))
    ivf = ctx.table(p, "ivf")
    val vecs = docs.map { case (id, t) => id -> Gen.embed(t) }
    ctx.step("ivf_build")(timedBuild(VectorOps.writeIvfIndex(
      vecs.toSeq.toDF("vec_id", "embedding"), ivf, ctx.dir(p, "ivf").getPath, IvfLists)))
    ivfOracle = IvfOracle(spark, ivf, vecs.toMap)
    ctx.step("first_settle")(settle())
    // the file source needs one event file to infer the schema
    ctx.step("stage")(prepare(-1))
    ctx.step("stream_start") {
      land()
      query = IngestStream.cdcIndexSink(
        CdcStream.readEventStream(spark, events.getPath, maxFilesPerTrigger = 1),
        src, ctx.dir(p, "checkpoint").getPath, Buckets, Trigger.ProcessingTime(0L))
      query.processAllAvailable()
      landedBatches += 1
    }
    ctx.step("warmup_ops")((1 until WarmupOps).foreach { _ => prepare(-1); op(-1) })
    settledState = None
    fresh.clear()
  }

  def teardown(): Unit = {
    query.stop()
    Files.deleteRecursively(new File(ctx.work, s"p$pass"))
  }

  /** Stage the next event batch (and check the previous settle). */
  def prepare(i: Int): Unit = {
    // warm-up settles are not checked; every measured one is
    if (i >= 0) settledState.foreach { case (g, snap) => checkGeneration(g, snap) }
    settledState = None
    val b = batch
    batch += 1
    val rows = mutable.ArrayBuffer.empty[(String, Long, Option[String], Long)]
    val mk = s"mk${b}x"
    (0 until Inserts).foreach { j =>
      val id = nextId
      nextId += 1
      // insert 0 carries the batch's visibility marker; insert 1 re-posts
      // a corpus document, which the near-duplicate screen must catch
      val text =
        if (j == 0) s"$mk ${Gen.text(rng)}"
        else if (j == 1) {
          val (orig, t) = baseDocs(rng.nextInt(baseDocs.length))
          reposts += id -> orig
          t
        } else Gen.text(rng)
      windowInserts += id -> text
      seq += 1
      rows += (("INSERT", id, Some(text), seq))
      state += id -> text
      pendingInserts += id
      if (j == 0) marker = (mk, id)
    }
    // updates and deletes touch distinct documents that were live at the
    // last settle, so the newest insert stays visible for the probe
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < Updates + Deletes) picked += live(rng.nextInt(live.length))
    picked.toSeq.zipWithIndex.foreach { case (id, j) =>
      seq += 1
      if (j < Updates) {
        val text = Gen.text(rng)
        rows += (("UPDATE", id, Some(text), seq))
        state += id -> text
      } else {
        rows += (("DELETE", id, None, seq))
        state -= id
        live -= id
      }
    }
    if (i >= 0 && i < DigestOps || i < 0 && pass == 0)
      digests += Gen.sha256(rows.iterator.map(_.toString))
    staged = new File(stage, s"b$b")
    rows.toSeq.toDF("statement", "doc_id", "text", "event_seq")
      .repartition(1).write.parquet(staged.getPath)
  }

  /** Land the staged event file in the stream's source directory. */
  private def land(): Unit = {
    val f = staged.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(f.toPath, new File(events, f"b$batch%06d.parquet").toPath)
    landTimes += System.nanoTime()
  }

  /** Settle src into the next generation, publish it, and probe it. */
  private def settle(): Unit = {
    generation += 1
    val gen = ctx.table(pass, s"gen$generation")
    Trace.span("ingest.settle") {
      // the sink appends from the stream's own session; this session must
      // re-list the sidecars before it reads them (cross-session refresh)
      Seq(src, s"${src}_doclens", s"${src}_pending", s"${src}_tombstones")
        .filter(spark.catalog.tableExists).foreach(spark.catalog.refreshTable)
      IngestStream.settleSearchUpserts(spark, src, gen,
        ctx.dir(pass, s"gen$generation").getPath,
        ctx.dir(pass, s"gen${generation}_dl").getPath, Buckets)
    }
    Trace.span("generations.publish")(Generations.publishSearch(spark, view, gen))
    live ++= pendingInserts
    pendingInserts.clear()
  }

  def op(i: Int): Long = {
    land()
    Trace.countedSpan("cdcstream.drain")(query.processAllAvailable())
    landedBatches += 1
    if (landedBatches % SettleEvery == 0) {
      settle()
      val (mk, id) = marker
      val hits = Trace.probe("searchops.probe")(
        SearchOps.searchBm25(spark, view, Seq(mk), 10).collect().toSeq)
      val visible = System.nanoTime()
      if (!hits.exists(_.getLong(0) == id))
        failures += s"index_stream.visibility: doc $id ($mk) not served after settle $generation"
      fresh ++= landTimes.map(t => (visible - t) / 1e9)
      landTimes.clear()
      settledState = Some((generation, state))
      serve()
      windowInserts.clear(); reposts.clear()
      settledSeq = seq
    }
    BatchEvents
  }

  /** The serving round over the settle window's changes; every answer is
    * checked against a brute-force or arithmetic expectation. */
  private def serve(): Unit = {
    val newDocs = windowInserts.toSeq.toDF("doc_id", "text")
    val pairs = Trace.probe("dedup.probe")(
      Dedup.probeBandIndex(spark, band, newDocs, "doc_id", "text", 0.5).collect().toSeq)
    reposts.foreach { case (id, orig) =>
      if (!pairs.exists(r => r.getLong(0) == id && r.getLong(1) == orig && r.getDouble(2) == 1.0))
        failures += s"index_stream.near_dup: re-post $id of doc $orig not found"
    }
    if (pairs.exists(_.getDouble(2) < 0.5))
      failures += "index_stream.near_dup: pair below the threshold"

    val queries = windowInserts.take(2).map { case (id, t) => (id, Gen.embed(t)) }.toSeq
    val nn = Trace.probe("vectorops.probe")(VectorOps.probeIvfIndex(spark, ivf,
      queries.toDF("vec_id", "embedding"), 10, NProbe).collect().toSeq)
    queries.foreach { case (id, v) =>
      failures ++= ivfOracle.check(id, v, nn.filter(_.getLong(0) == id), NProbe)
        .map(m => s"index_stream.ivf: $m")
    }

    // the CDC queue: every landed event, processed up to the last settle
    val queue = spark.read.parquet(events.getPath).select(col("event_seq").as("id"),
      col("statement"), col("doc_id"), (col("event_seq") <= settledSeq).as("processed"))
    val window = seq - settledSeq
    val (pages, page, left) = Trace.countedSpan("cdcops.page") {
      val pages = CdcOps.pageCount(queue, PageSize).collect().head.getLong(0)
      val page = CdcOps.drainKeyset(queue, Seq(settledSeq).toDF("cursor"), PageSize)
        .select("id").collect().map(_.getLong(0)).toSeq
      val left = CdcOps.ackAntiJoin(queue, page.toDF("id")).count()
      if (Trace.on) Trace.C.resultRows.addAndGet(2L + page.length)
      (pages, page, left)
    }
    if (pages != (window + PageSize - 1) / PageSize)
      failures += s"index_stream.page_count: $pages pages for $window unsettled events"
    if (page != (settledSeq + 1 to math.min(seq, settledSeq + PageSize)).toSeq)
      failures += s"index_stream.drain_keyset: page after $settledSeq is ${page.take(3)}..."
    if (left != seq - page.length)
      failures += s"index_stream.ack: $left events left after acking ${page.length} of $seq"
  }

  /** The published generation must answer like an index rebuilt from
    * scratch on the document state at the settle: BM25 recomputed from
    * the documents themselves ([[Bm25Oracle]]). */
  private def checkGeneration(g: Int, snap: TreeMap[Long, String]): Unit = {
    val oracle = new Bm25Oracle(snap)
    val r = new java.util.SplittableRandom(ctx.seed * 31 + g)
    val probes = Seq.fill(2)(terms(r, 2)).map(t => (true, t)) ++
      Seq.fill(2)(terms(r, 3)).map(t => (false, t))
    probes.foreach { case (all, t) =>
      val served = (if (all) SearchOps.searchBm25(spark, view, t, 10)
        else SearchOps.searchBm25Any(spark, view, t, 10)).collect().toSeq
        .map(x => (x.getLong(0), x.getLong(1)))
      val rebuilt = oracle.topK(t, 10, all)
      if (served != rebuilt)
        failures += s"index_stream.settled_probe: generation $g ${if (all) "all" else "any"}$t " +
          s"served=${served.take(3)} rebuilt=${rebuilt.take(3)}"
    }
  }

  private def terms(r: java.util.SplittableRandom, n: Int): Seq[String] = {
    val s = mutable.LinkedHashSet.empty[String]
    while (s.size < n) s += Gen.vocab(r.nextInt(30))
    s.toSeq
  }

  def check(): Seq[String] = {
    settledState.foreach { case (g, snap) => checkGeneration(g, snap) }
    settledState = None
    query.stop()
    val applied = spark.table(s"${src}_applied").count()
    val out = mutable.ArrayBuffer.empty[String] ++ failures
    if (applied != landedBatches)
      out += s"index_stream.applied_batches: sink applied $applied of $landedBatches landed batches"
    out.toSeq
  }

  def freshness: Seq[Double] = fresh.toSeq
  def inputDigest: String = Gen.sha256(digests.iterator)
}

object IndexStream {
  val Docs = 5000
  val Inserts = 40
  val Updates = 45
  val Deletes = 15
  val BatchEvents: Long = Inserts + Updates + Deletes
  val SettleEvery = 8
  val Buckets = 8
  val WarmupOps = 1
  val IvfLists = 16
  val NProbe = 4
  /** Events per page of the CDC queue (the reference pages by 1000). */
  val PageSize = 50
  val DigestOps = 8
}
