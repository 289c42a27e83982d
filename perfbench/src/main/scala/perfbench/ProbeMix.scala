package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.{CdcOps, Dedup, Generations, SearchOps, VectorOps}
import graft.streaming.{CdcStream, IngestStream}

/** `probe_mix`: warm, read-only probes against state built in set-up —
  * BM25 over a search generation built through the CDC sink-and-settle
  * path, band-index near-dup probes, IVF probes, queue paging on a staged
  * CDC queue, and four plain-scan `SparkEntry` entries. Each op is one
  * seeded probe; every answer is checked. */
class ProbeMix(ctx: Ctx) extends Workload {
  import ProbeMix._
  private val spark = ctx.spark
  import spark.implicits._

  private var pass = 0
  private var view = ""
  private var band = ""
  private var ivf = ""
  private var sfDir = ""
  private var queuePath = ""
  private var docs = Map.empty[Long, String]
  private var bm25: Bm25Oracle = _
  private var vectors = Map.empty[Long, Array[Float]]
  private var ivfOracle: IvfOracle = _
  private var unprocessed = Array.empty[Long]
  private var queueRows = 0L
  private val fresh = mutable.ArrayBuffer.empty[Double]
  private val failures = mutable.ArrayBuffer.empty[String]
  private val digests = mutable.ArrayBuffer.empty[String]
  private val kinds = mutable.HashMap.empty[String, Int]
  private var builds = 0
  private var buildSecs = 0.0
  private lazy val goldens: Map[String, String] = Golden.load()

  def sizes: String =
    s"documents=$Docs (indexed as $Docs INSERT events) cdc_events=$CdcEvents vectors=$Vectors ivf_lists=$IvfLists nprobe=$NProbe " +
      s"queue_rows=$QueueRows tpch_orders=${Tpch.Orders} warmup_ops=${WarmupKinds.length} " +
      s"op_mix=${Mix.map { case (k, w) => s"$k:$w" }.mkString(",")} " +
      s"ops_by_kind=${kinds.toSeq.sorted.map { case (k, n) => s"$k:$n" }.mkString(",")}"

  override def epochBuilds: (Int, Double) = (builds, buildSecs)

  private def timedBuild(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    buildSecs += (System.nanoTime() - t0) / 1e9
    builds += 1
  }

  def setup(p: Int): Unit = {
    pass = p
    builds = 0; buildSecs = 0.0
    val rng = new java.util.SplittableRandom(ctx.seed + 99)

    // plain-scan entries read the committed, seed-independent fixture
    sfDir = Tpch.fixtureDir

    // search: the whole generation is built through the CDC path — one
    // event file (the base documents as INSERTs, then seeded updates,
    // deletes and re-inserts) drained by the sink into an empty index,
    // settled and published; freshness is file landing -> visible by name
    val base = Gen.documents(ctx.seed, Docs)
    var state = base.toMap
    val src = ctx.table(p, "src")
    val ev = mutable.ArrayBuffer.empty[(String, Long, Option[String], Long)]
    base.foreach { case (id, t) => ev += (("INSERT", id, Some(t), id + 1)) }
    var nextId = Docs.toLong
    val marker = "mkprobe"
    (1 to CdcEvents).foreach { j =>
      val s = Docs.toLong + j
      rng.nextInt(4) match {
        case 0 =>
          val t = if (j == 1) s"$marker ${Gen.text(rng)}" else Gen.text(rng)
          ev += (("INSERT", nextId, Some(t), s)); state += nextId -> t; nextId += 1
        case 1 | 2 =>
          val id = rng.nextInt(Docs).toLong
          val t = Gen.text(rng)
          ev += (("UPDATE", id, Some(t), s)); state += id -> t
        case _ =>
          val id = rng.nextInt(Docs).toLong
          ev += (("DELETE", id, None, s)); state -= id
      }
    }
    if (!ev.exists(_._3.exists(_.startsWith(marker)))) {
      val t = s"$marker ${Gen.text(rng)}"
      ev += (("INSERT", nextId, Some(t), Docs + CdcEvents + 1L)); state += nextId -> t
    }
    val markerId = state.collectFirst { case (id, t) if t.startsWith(marker) => id }.get
    if (p == 0) digests += Gen.sha256(ev.iterator.map(_.toString))
    val stage = new File(ctx.dir(p, "stage"), "events")
    ev.toSeq.toDF("statement", "doc_id", "text", "event_seq").repartition(1)
      .write.parquet(stage.getPath)
    val events = ctx.dir(p, "events")
    val f = stage.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(f.toPath, new File(events, "e0.parquet").toPath)
    val landed = System.nanoTime()
    ctx.step("cdc_sink")(IngestStream.cdcIndexSink(
      CdcStream.readEventStream(spark, events.getPath), src,
      ctx.dir(p, "checkpoint").getPath, Buckets, Trigger.AvailableNow())
      .awaitTermination())
    val gen = ctx.table(p, "gen1")
    ctx.step("settle")(IngestStream.settleSearchUpserts(spark, src, gen,
      ctx.dir(p, "gen1").getPath, ctx.dir(p, "gen1_dl").getPath, Buckets))
    view = ctx.table(p, "view")
    Generations.publishSearch(spark, view, gen)
    val seen = ctx.step("visibility_probe")(
      SearchOps.searchBm25(spark, view, Seq(marker), 10).collect())
    fresh += (System.nanoTime() - landed) / 1e9
    if (!seen.exists(_.getLong(0) == markerId))
      failures += s"probe_mix.visibility: doc $markerId not served after the settle"
    docs = state
    bm25 = new Bm25Oracle(state)

    // band index over the served corpus
    band = ctx.table(p, "band")
    ctx.step("band_build")(timedBuild(Dedup.writeBandIndex(
      state.toSeq.toDF("doc_id", "text"), "doc_id", "text", band,
      ctx.dir(p, "band").getPath)))

    // IVF index over seeded vectors
    ivf = ctx.table(p, "ivf")
    val vs = Gen.vectors(ctx.seed, Vectors)
    vectors = vs.toMap
    ctx.step("ivf_build")(timedBuild(VectorOps.writeIvfIndex(
      vs.toSeq.toDF("vec_id", "embedding"), ivf, ctx.dir(p, "ivf").getPath, IvfLists)))
    ivfOracle = IvfOracle(spark, ivf, vectors)

    // a staged CDC queue for the paging probes
    val q = ctx.dir(p, "queue")
    ctx.step("queue")(CdcOps.finalizeEnvelope(CdcOps.insertEvents(
        spark.range(0, QueueRows).select(Gen.lineitem(ctx.seed, col("id")): _*),
        "lineitem", "l_orderkey"))
      .withColumn("id", monotonically_increasing_id())
      .withColumn("processed", pmod(xxhash64(lit(ctx.seed), col("id")), lit(3L)) === 0)
      .write.mode("overwrite").parquet(q.getPath))
    queuePath = q.getPath
    val qs = spark.read.parquet(queuePath).select("id", "processed").collect()
    queueRows = qs.length.toLong
    unprocessed = qs.filter(!_.getBoolean(1)).map(_.getLong(0)).sorted

    ctx.step("warmup_ops")(WarmupKinds.zipWithIndex.foreach { case (k, i) => probe(k, opRng(-1 - i)) })
  }

  def teardown(): Unit = Files.deleteRecursively(new File(ctx.work, s"p$pass"))

  def prepare(i: Int): Unit = ()

  private def opRng(i: Int) = new java.util.SplittableRandom(ctx.seed * 1000003L + i)

  private def kindOf(r: java.util.SplittableRandom): String = {
    var u = r.nextInt(Mix.map(_._2).sum)
    Mix.find { case (_, w) => u -= w; u < 0 }.get._1
  }

  def op(i: Int): Long = {
    val r = opRng(i)
    val kind = kindOf(r)
    kinds(kind) = kinds.getOrElse(kind, 0) + 1
    probe(kind, r)
    1L
  }

  /** One probe of `kind`, checked; returns the rows it answered with. */
  private def probe(kind: String, r: java.util.SplittableRandom): Long = {
    val n = kind match {
      case "bm25" | "bm25_any" =>
        val t = terms(r, if (kind == "bm25") 2 else 3)
        val got = Trace.probe("searchops.probe")(
          (if (kind == "bm25") SearchOps.searchBm25(spark, view, t, 10)
           else SearchOps.searchBm25Any(spark, view, t, 10)).collect().toSeq)
        val want = bm25.topK(t, 10, kind == "bm25")
        val gotT = got.map(x => (x.getLong(0), x.getLong(1)))
        if (gotT != want)
          failures += s"probe_mix.bm25: $kind$t served=${gotT.take(3)} brute_force=${want.take(3)}"
        got.length
      case "band" =>
        val ids = docs.keys.toIndexedSeq
        val copies = Seq.fill(2)(ids(r.nextInt(ids.length)))
        val incoming = copies.zipWithIndex.map { case (id, j) => (BandNew + j, docs(id)) } ++
          (2 until 4).map(j => (BandNew + j, Gen.text(r)))
        val got = Trace.probe("dedup.probe")(Dedup.probeBandIndex(spark, band,
          incoming.toDF("doc_id", "text"), "doc_id", "text", 0.5).collect().toSeq)
        copies.zipWithIndex.foreach { case (id, j) =>
          if (!got.exists(x => x.getLong(0) == BandNew + j && x.getLong(1) == id &&
              x.getDouble(2) == 1.0))
            failures += s"probe_mix.band: exact copy of doc $id not found"
        }
        if (got.exists(_.getDouble(2) < 0.5))
          failures += "probe_mix.band: pair below the threshold"
        got.length
      case "ivf" =>
        val qs = Seq.fill(2) {
          val v = vectors(r.nextInt(Vectors).toLong).map(x => x + (r.nextDouble() * 0.1 - 0.05).toFloat)
          v
        }.zipWithIndex.map { case (v, j) => (IvfQuery + j, v) }
        val got = Trace.probe("vectorops.probe")(VectorOps.probeIvfIndex(spark, ivf,
          qs.toDF("vec_id", "embedding"), 10, NProbe).collect().toSeq)
        qs.foreach { case (qid, qv) =>
          failures ++= ivfOracle.check(qid, qv, got.filter(_.getLong(0) == qid), NProbe)
            .map(m => s"probe_mix.ivf: $m")
        }
        got.length
      case "page_count" =>
        val got = Trace.countedSpan("cdcops.page")(
          CdcOps.pageCount(spark.read.parquet(queuePath)).collect())
        val want = (unprocessed.length + 999) / 1000
        if (got.head.getLong(0) != want)
          failures += s"probe_mix.page_count: ${got.head.getLong(0)} != $want"
        1
      case "drain_keyset" =>
        val cursor = unprocessed(r.nextInt(unprocessed.length))
        val got = Trace.countedSpan("cdcops.page")(CdcOps.drainKeyset(
          spark.read.parquet(queuePath), Seq(cursor).toDF("cursor"), 1000)
          .select("id").collect().map(_.getLong(0)).toSeq)
        val want = unprocessed.iterator.filter(_ > cursor).take(1000).toSeq
        if (got != want)
          failures += s"probe_mix.drain_keyset: page after $cursor differs (${got.length} vs ${want.length} ids)"
        got.length
      case "ack" =>
        val acked = Seq.fill(500)(unprocessed(r.nextInt(unprocessed.length))).distinct
        val got = Trace.countedSpan("cdcops.page")(CdcOps.ackAntiJoin(
          spark.read.parquet(queuePath), acked.toDF("id")).count())
        if (got != queueRows - acked.length)
          failures += s"probe_mix.ack: $got rows left, expected ${queueRows - acked.length}"
        1
      case "entry" =>
        val e = Tpch.entries(r.nextInt(Tpch.entries.length))
        val got = Trace.span("entry.scan")(
          graft.SparkEntry.queries(e)(spark, sfDir).collect().toSeq)
        val h = Tpch.resultHash(got)
        if (!goldens.get(e).contains(h))
          failures += s"probe_mix.entry_golden: $e hash $h != golden ${goldens.getOrElse(e, "(none)")}"
        got.length
    }
    n.toLong
  }

  private def terms(r: java.util.SplittableRandom, n: Int): Seq[String] = {
    val s = mutable.LinkedHashSet.empty[String]
    while (s.size < n) s += Gen.vocab(r.nextInt(40))
    s.toSeq
  }

  def check(): Seq[String] = failures.toSeq
  def freshness: Seq[Double] = fresh.toSeq
  def inputDigest: String = Gen.sha256(digests.iterator)
}

object ProbeMix {
  val Docs = 5000
  val CdcEvents = 100
  val Vectors = 2000
  val IvfLists = 16
  val NProbe = 4
  val QueueRows = 20000L
  val Buckets = 8
  /** Warm-up probes of the index families, every set-up pass. */
  val WarmupKinds = Seq("band", "ivf")
  val BandNew = 100000000L
  val IvfQuery = 100000000L
  /** Op kinds and their weights. */
  val Mix: Seq[(String, Int)] = Seq("bm25" -> 20, "bm25_any" -> 15, "band" -> 15,
    "ivf" -> 15, "page_count" -> 5, "drain_keyset" -> 10, "ack" -> 5, "entry" -> 15)
}

/** Golden result hashes of the plain-scan entries over [[Tpch]]. */
object Golden {
  def load(): Map[String, String] = {
    val f = new File(sys.props.getOrElse("perfbench.goldens", "perfbench/goldens.json"))
    val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    "\"([a-z0-9_]+)\"\\s*:\\s*\"([0-9a-f]{64})\"".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  /** Run the entries over the committed fixture: each entry's result to
    * `out/<entry>/` (parquet, for the DuckDB cross-check) and the oracle
    * SQL to `out/oracle_sql.json`; print the hashes as JSON. */
  def generate(spark: org.apache.spark.sql.SparkSession, out: File): Unit = {
    val hashes = Tpch.entries.map { e =>
      val df = graft.SparkEntry.queries(e)(spark, Tpch.fixtureDir)
      val rows = df.collect().toSeq
      df.coalesce(1).write.mode("overwrite").parquet(new File(out, e).getPath)
      e -> Tpch.resultHash(rows)
    }
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case c => c.toString
    } + "\""
    val oracle = Tpch.entries.map(e => s"${q(e)}: ${q(graft.SparkEntry.oracleSql(e))}")
    java.nio.file.Files.write(new File(out, "oracle_sql.json").toPath,
      oracle.mkString("{", ",\n", "}\n").getBytes("UTF-8"))
    println(hashes.map { case (e, h) => s"  ${q(e)}: ${q(h)}" }.mkString("{\n", ",\n", "\n}"))
  }
}
