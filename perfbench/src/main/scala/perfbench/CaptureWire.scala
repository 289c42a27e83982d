package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.CdcOps
import graft.streaming.CdcStream

/** `capture_wire`: the paper's whole surface. Each op captures one seeded
  * change wave of the watched lineitem table (per-column update diff with
  * no-op suppression, inserts, deletes), finalizes the envelopes into the
  * queue, and drains the queue through the keyed, ordered sink into
  * Kafka-shaped wire records; the checkpoint commit is the ack. */
class CaptureWire(ctx: Ctx) extends Workload {
  import CaptureWire._
  private val spark = ctx.spark

  private var pass = 0
  private var query: StreamingQuery = _
  private var stage: File = _
  private var queue: File = _
  private var wire: File = _
  private val waves = mutable.ArrayBuffer.empty[Int]
  private val opWave = mutable.HashMap.empty[Int, Int]
  private val fresh = mutable.ArrayBuffer.empty[Double]
  private var nextWave = 0

  def sizes: String =
    s"table_rows=${Gen.LineitemRows} touched_rows_per_op~${Gen.LineitemRows * SelPerMille / 1000} " +
      s"(80% update of which 10% no-op, 20% delete) inserts_per_op=$Inserts " +
      s"warmup_ops=$WarmupOps (${Gen.LineitemRows * WarmupSelPerMille / 1000} touched rows, " +
      s"$WarmupInserts inserts)"

  def setup(p: Int): Unit = {
    pass = p
    stage = ctx.dir(p, "stage")
    queue = ctx.dir(p, "queue")
    wire = ctx.dir(p, "wire")
    waves.clear(); opWave.clear(); fresh.clear()
    nextWave = 0
    // the file source needs one queue file to infer the envelope schema
    ctx.step("stage")(prepare(-1))
    ctx.step("capture")(capture(nextWave - 1))
    query = ctx.step("stream_start")(CdcStream.keyedOrderedSink(
      CdcStream.readEventStream(spark, queue.getPath),
      ctx.dir(p, "checkpoint").getPath,
      (ordered: DataFrame, batchId: Long) =>
        // `pos` keeps each record's place in the sink's output order, for
        // the per-key order check
        CdcOps.toWire(ordered, "graft", "tpch")
          .withColumn("pos", monotonically_increasing_id())
          .write.parquet(new File(wire, s"batch=$batchId").getPath),
      orderCols = Seq("id"),
      trigger = Trigger.ProcessingTime(0L)))
    ctx.step("first_drain")(query.processAllAvailable())
    ctx.step("warmup_ops")((1 until WarmupOps).foreach { i => prepare(-1); op(-1) })
    fresh.clear()
  }

  def teardown(): Unit = {
    query.stop()
    Files.deleteRecursively(new File(ctx.work, s"p$pass"))
  }

  /** Stage wave `nextWave`'s OLD and NEW row images as one parquet
    * (`img` O/N, with the generator's `kind` and `mod`). */
  def prepare(i: Int): Unit = {
    val w = nextWave
    nextWave += 1
    // warm-up waves are small: they warm the per-op code paths (planning,
    // codegen, JIT) that make the first full-size ops slow, at less cost
    val (old, nw) =
      if (i < 0) Gen.wave(spark, ctx.seed, w, WarmupSelPerMille, WarmupInserts)
      else Gen.wave(spark, ctx.seed, w, SelPerMille, Inserts)
    old.withColumn("img", lit("O")).unionByName(nw.withColumn("img", lit("N")))
      .write.parquet(new File(stage, s"images_$w").getPath)
    waves += w
  }

  private def images(ws: Seq[Int]): DataFrame =
    spark.read.parquet(ws.map(w => new File(stage, s"images_$w").getPath): _*)
      .withColumn("wave", regexp_extract(input_file_name(), "images_([0-9]+)", 1).cast("int"))

  /** Per wave, from the staged images: the events the capture must emit
    * (deletes, updates that change something, inserts) and the row images
    * offered. */
  private lazy val staged: Map[Int, (Long, Long)] =
    images(waves.toSeq).groupBy(col("wave")).agg(
        sum(when(col("kind") === "D" || col("kind") === "I" ||
          col("kind") === "U" && col("img") === "N" && col("mod") =!= 0, 1).otherwise(0)),
        sum(when(col("img") === "O" || col("kind") === "I", 1).otherwise(0)))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap

  /** Capture wave `w` into the queue: the three CdcOps captures, the
    * envelope, one queue id per event (wave-major, so per-key order is
    * queue order); files land in the queue in id order. */
  private def capture(w: Int): Unit = Trace.span("cdcops.capture") {
    val images = spark.read.parquet(new File(stage, s"images_$w").getPath)
    val old = images.filter(col("img") === "O")
    val nw = images.filter(col("img") === "N")
    val data = Gen.lineitemCols.map(col)
    val updates = CdcOps.updateEventsJson(
        old.filter(col("kind") === "U").select(data: _*),
        nw.filter(col("kind") === "U").select(data: _*), "l_pk", "l_orderkey")
      .withColumn("table_name", lit("lineitem"))
    val inserts = CdcOps.insertEvents(
      nw.filter(col("kind") === "I").select(data: _*), "lineitem", "l_orderkey")
    val deletes = CdcOps.deleteEvents(
      old.filter(col("kind") === "D").select(data: _*), "lineitem", "l_orderkey")
    val out = new File(stage, s"queue_$w")
    CdcOps.finalizeEnvelope(updates.unionByName(inserts).unionByName(deletes))
      .withColumn("id", lit(w.toLong << WaveShift) + monotonically_increasing_id())
      .write.parquet(out.getPath)
    out.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .foreach(f => java.nio.file.Files.move(f.toPath,
        new File(queue, s"w${w}_${f.getName}").toPath))
  }

  def op(i: Int): Long = {
    val w = nextWave - 1
    capture(w)
    val t0 = System.nanoTime()
    Trace.countedSpan("cdcstream.drain")(query.processAllAvailable())
    fresh += (System.nanoTime() - t0) / 1e9
    opWave(i) = w
    0L
  }

  override def minOps: Int = 6
  override def unitsOf(i: Int): Long = staged(opWave(i))._1
  def freshness: Seq[Double] = fresh.toSeq
  def inputDigest: String = Gen.sha256(
    images(waves.take(DigestWaves).toSeq).groupBy(col("wave"))
      .agg(Gen.digestCols(Gen.lineitemCols :+ "img").head,
        Gen.digestCols(Gen.lineitemCols :+ "img").tail: _*)
      .collect().sortBy(_.getInt(0)).iterator.map(_.mkString(":")))

  override def layerExtras(tracedOps: Int): Map[String, Double] = Map(
    "cdcops.events_per_image" -> staged.values.map(_._1).sum.toDouble / staged.values.map(_._2).sum)

  def check(): Seq[String] = {
    query.stop()
    val q = spark.read.parquet(queue.getPath)
      .select(col("uuid"), col("id"), col("external_id"))
    val wr = spark.read.parquet(wire.getPath)
      .select(col("batch"), col("pos"), col("key"), col("topic"),
        get_json_object(col("value"), "$.uuid").as("uuid"))
    val joined = wr.join(q, Seq("uuid"), "left")
      .withColumn("wave", shiftright(col("id"), WaveShift))
    val perKey = Window.partitionBy(col("key")).orderBy(col("batch"), col("pos"))
    val stats = joined
      .withColumn("prev", lag(col("id"), 1).over(perKey))
      .agg(count(lit(1)).as("n"), countDistinct(col("uuid")).as("uuids"),
        sum(when(col("id").isNull, 1).otherwise(0)).as("unmatched"),
        sum(when(col("prev") >= col("id"), 1).otherwise(0)).as("out_of_order"),
        sum(when(col("key") =!= coalesce(col("external_id"), lit("")), 1)
          .otherwise(0)).as("bad_key"),
        sum(when(col("topic") =!= "pg2kafka.graft.tpch.lineitem", 1)
          .otherwise(0)).as("bad_topic"))
      .head()
    val perWave = joined.groupBy(col("wave")).count().collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val fails = mutable.ArrayBuffer.empty[String]
    val expected = staged.map { case (w, (n, _)) => w -> n }
    val total = expected.values.sum
    if (stats.getLong(0) != total)
      fails += s"capture_wire.wire_count: wire=${stats.getLong(0)} expected=$total"
    if (stats.getLong(1) != stats.getLong(0))
      fails += s"capture_wire.uuid_once: ${stats.getLong(0) - stats.getLong(1)} duplicated uuids"
    if (stats.getLong(2) != 0)
      fails += s"capture_wire.uuid_in_queue: ${stats.getLong(2)} wire records not in the queue"
    if (stats.getLong(3) != 0)
      fails += s"capture_wire.key_order: ${stats.getLong(3)} records out of queue order within their key"
    if (stats.getLong(4) != 0)
      fails += s"capture_wire.key: ${stats.getLong(4)} records keyed off their external_id"
    if (stats.getLong(5) != 0)
      fails += s"capture_wire.topic: ${stats.getLong(5)} records on the wrong topic"
    expected.toSeq.sorted.foreach { case (w, n) =>
      val got = perWave.getOrElse(w, 0L)
      if (got != n) fails += s"capture_wire.wave_count: wave $w wire=$got expected=$n"
    }
    fails.toSeq
  }
}

object CaptureWire {
  /** Rows touched per 1000 of the table per wave. */
  val SelPerMille = 30
  val Inserts = 3000
  /** Waves through the stream in each set-up pass, all small ones. */
  val WarmupOps = 3
  val WarmupSelPerMille = 3
  val WarmupInserts = 300
  /** Waves in the printed input digest: set-up's and the first ops'. */
  val DigestWaves = 6
  /** Queue ids are `wave << WaveShift` plus a per-wave monotonically
    * increasing id, which stays below 2^40 for up to 128 partitions. */
  val WaveShift = 40
}
