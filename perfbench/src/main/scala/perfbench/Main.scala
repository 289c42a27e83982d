package perfbench

import java.io.File
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** What a workload sees of the run. */
final case class Ctx(spark: SparkSession, seed: Long, work: File) {
  private val steps = mutable.LinkedHashMap.empty[String, Double]

  /** Times one named set-up step; [[takeSteps]] reports them per pass. */
  def step[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally steps(name) = steps.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  def takeSteps(): String = {
    val s = steps.map { case (k, v) => f"$k=$v%.3f" }.mkString(" ")
    steps.clear()
    s
  }

  /** A catalog name unique to this run and pass. */
  def table(pass: Int, name: String): String = s"pb_p${pass}_$name"
  def dir(pass: Int, name: String): File = {
    val d = new File(work, s"p$pass/$name")
    d.mkdirs()
    d
  }
}

/** One benchmark workload: a fixture built in set-up, then closed-loop
  * ops (one in flight), then output checks. */
trait Workload {
  /** Build a fresh fixture for set-up pass `pass`, including warm-up
    * ops. The last pass's fixture is the one measured. */
  def setup(pass: Int): Unit
  /** Release the fixture of a pass that will not be measured. */
  def teardown(): Unit
  /** Untimed staging of op `i`'s inputs. */
  def prepare(i: Int): Unit
  /** The timed op; returns the work units it completed (events
    * committed, events applied, probes answered). */
  def op(i: Int): Long
  /** Work units of op `i`, if the op could not count them itself (read
    * after [[check]]). */
  def unitsOf(i: Int): Long = 0L
  /** Output checks over everything the ops produced; each failure is
    * reported by name. */
  def check(): Seq[String]
  /** Seconds from a change landing until it was visible at the output. */
  def freshness: Seq[Double]
  /** Digest of the seeded inputs of set-up and of the first ops. */
  def inputDigest: String
  /** One-line description of the input sizes. */
  def sizes: String
  /** Workload-specific per-layer numbers over the traced ops. */
  def layerExtras(tracedOps: Int): Map[String, Double] = Map.empty
  /** Index builds of the measured pass: (count, seconds). */
  def epochBuilds: (Int, Double) = (0, 0.0)
  /** Ops measured at least, whatever `--seconds` allows. */
  def minOps: Int = 8
  /** Streaming query ids whose progress counts as the ingest sink. */
  def ingestQueryIds: Set[String] = Set.empty
}

object Main {
  final case class OpRec(i: Int, secs: Double, units: Long, traced: Boolean,
      steal: (Long, Long), counters: Map[String, Double], gcMs: Long,
      files: (Long, Long))

  val SetupPasses = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts.getOrElse("seed", "0").toLong
    val seconds = opts.getOrElse("seconds", "0").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val cores = opts.getOrElse("cores", Runtime.getRuntime.availableProcessors.toString).toInt
    val work = new File(opts("work"))
    val code =
      try {
        workload match {
          case "fixture" => Tpch.write(session(cores, trace = false), new File(opts("out"))); 0
          case "golden" => Golden.generate(session(cores, trace = false), new File(opts("out"))); 0
          case _ => run(workload, seed, seconds, trace, cores, work)
        }
      }
      catch {
        case NonFatal(e) =>
          System.err.println(s"perfbench: run failed: $e")
          e.printStackTrace()
          2
      }
    System.out.flush()
    // Spark leaves non-daemon threads behind; the run is over
    Runtime.getRuntime.halt(code)
  }

  def session(cores: Int, trace: Boolean): SparkSession = {
    if (trace)
      System.setProperty("spark.sql.queryExecutionListeners",
        classOf[TraceQueryListener].getName)
    val spark = graft.GraftSession.build(s"local[$cores]", cores, "perfbench")
    if (trace) {
      Trace.attach(spark.sparkContext)
      spark.sparkContext.addSparkListener(Trace.jobListener)
      spark.streams.addListener(Trace.streamListener)
    }
    spark
  }

  def run(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, work: File): Int = {
    val spark = session(cores, trace)
    val sessionS = (System.currentTimeMillis() - Host.jvmStartMillis) / 1000.0
    val ctx = Ctx(spark, seed, work)
    val w: Workload = workload match {
      case "capture_wire" => new CaptureWire(ctx)
      case "index_stream" => new IndexStream(ctx)
      case "probe_mix" => new ProbeMix(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    println(s"perfbench workload=$workload seed=$seed cores=$cores " +
      s"master=local[$cores] shuffle.partitions=$cores client=closed-loop-1 trace=${if (trace) 1 else 0}")

    val passSecs = (0 until SetupPasses).map { p =>
      val t0 = System.nanoTime()
      w.setup(p)
      val s = (System.nanoTime() - t0) / 1e9
      println(f"setup_steps pass=$p total=$s%.3f ${ctx.takeSteps()}")
      if (p < SetupPasses - 1) w.teardown()
      s
    }
    val setupS = sessionS + Stats.median(passSecs)
    println(f"timeline setup_done_s=${Host.sinceStart}%.1f")
    println(f"setup session_s=$sessionS%.3f passes_s=${passSecs.map(x => f"$x%.3f").mkString("[", ",", "]")}")

    // closed loop: in a traced run the first half is untraced, so the
    // tracing overhead is measured on the same fixture
    val recs = mutable.ArrayBuffer.empty[OpRec]
    var failed = 0
    val steal0 = Host.cpuTicks()
    def phase(traced: Boolean, budget: Double, minOps: Int): Unit = {
      Trace.on = traced
      var spent = 0.0
      var n = 0
      var consecutiveFailures = 0
      while ((spent < budget || n < minOps) && consecutiveFailures < 3) {
        val i = recs.length + failed
        try {
          w.prepare(i)
          if (traced) Trace.drain()
          val c0 = Trace.C.snapshot
          val f0 = if (traced) Files.scan(work) else Map.empty[String, Long]
          val g0 = Host.gcMillis()
          val s0 = Host.cpuTicks()
          Trace.beginOp(i)
          val t0 = System.nanoTime()
          val units = w.op(i)
          val dt = (System.nanoTime() - t0) / 1e9
          Trace.endOp()
          val s1 = Host.cpuTicks()
          val g1 = Host.gcMillis()
          if (traced) Trace.drain()
          val c1 = Trace.C.snapshot
          val files = if (traced) Files.delta(f0, Files.scan(work)) else (0L, 0L)
          recs += OpRec(i, dt, units, traced, (s1._1 - s0._1, s1._2 - s0._2),
            c1.map { case (k, v) => k -> (v - c0(k)) }, g1 - g0, files)
          spent += dt
          n += 1
          consecutiveFailures = 0
        } catch {
          case NonFatal(e) =>
            Trace.endOp()
            failed += 1
            consecutiveFailures += 1
            System.err.println(s"perfbench: op $i failed: $e")
            println(s"op_failed i=$i error=${e.toString.replace('\n', ' ').take(300)}")
        }
      }
    }
    if (trace) {
      phase(traced = false, seconds / 2, w.minOps)
      phase(traced = true, seconds / 2, w.minOps)
    } else phase(traced = false, seconds, w.minOps)
    Trace.on = false
    val steal1 = Host.cpuTicks()
    val (heapMb, heapReadings) = Host.retainedHeapMb(spark.sparkContext)
    println(s"retained_heap readings_mb=${heapReadings.map(x => f"$x%.2f").mkString("[", ",", "]")}")
    println(f"timeline ops_done_s=${Host.sinceStart}%.1f")

    val failures = w.check()
    println(f"timeline checks_done_s=${Host.sinceStart}%.1f")
    failures.foreach(f => println(s"check_failed $f"))
    val checked = failures.isEmpty && failed == 0
    println(s"checks ${if (checked) "passed" else "FAILED"}")
    println(s"inputs digest=${w.inputDigest} ${w.sizes}")
    val stealShare = Host.stealShare(steal0, steal1)
    val opSteal = recs.map(r => if (r.steal._2 > 0) r.steal._1.toDouble / r.steal._2 else 0.0)
    println(f"host.steal_share=$stealShare%.5f max_op_steal_share=${if (opSteal.isEmpty) 0.0 else opSteal.max}%.5f")

    val done = recs.map(r => if (r.units > 0) r else r.copy(units = w.unitsOf(r.i))).toSeq
    val metrics: Seq[(String, Double, String)] =
      if (!trace) endToEnd(w, done, setupS, heapMb)
      else perLayer(w, done, cores, stealShare)
    val attempted = recs.length + failed
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $checked, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    if (checked) 0 else 1
  }

  def endToEnd(w: Workload, recs: Seq[OpRec], setupS: Double,
      heapMb: Double): Seq[(String, Double, String)] = {
    val lat = recs.map(_.secs)
    val (p, tailS) = Stats.tail(lat)
    val fresh = w.freshness
    val thr = recs.map(_.units).sum / lat.sum
    println(f"op_tail_s=$tailS%.6f at p$p over ${lat.length} ops; " +
      f"op_p50_s=${Stats.median(lat)}%.6f; freshness samples=${fresh.length}; " +
      f"ops_s=${lat.map(x => f"$x%.3f").mkString("[", ",", "]")}")
    Seq(
      ("setup_s", setupS, "s"),
      ("throughput_per_s", thr, "1/s"),
      ("op_p50_s", Stats.median(lat), "s"),
      ("op_tail_s", tailS, "s"),
      ("freshness_p50_s", Stats.median(fresh), "s"),
      ("retained_heap_mb", heapMb, "MiB"))
  }

  def perLayer(w: Workload, recs: Seq[OpRec], cores: Int,
      stealShare: Double): Seq[(String, Double, String)] = {
    val traced = recs.filter(_.traced)
    val untraced = recs.filterNot(_.traced)
    val n = traced.length.toDouble
    val wall = traced.map(_.secs).sum
    def total(k: String) = traced.map(_.counters.getOrElse(k, 0.0)).sum
    val spans = Trace.spansSnapshot.filter(s => traced.exists(_.i == s.op))
    val byName = spans.groupBy(_.name)
    def perCall(name: String) = byName.get(name)
      .map(ss => ss.map(s => (s.end - s.start) / 1e9).sum / ss.length).getOrElse(0.0)
    val progress = Trace.progressSnapshot
    val ingestIds = w.ingestQueryIds
    def progMs(k: String, ps: Seq[Trace.Progress]) =
      Stats.mean(ps.flatMap(_.durations.get(k)).map(_.toDouble))
    val ingestProg = progress.filter(p => ingestIds.contains(p.query))
    val attributed = traced.map { r =>
      val own = spans.filter(_.op == r.i).map(s => (s.end - s.start) / 1e9).sum
      math.max(0.0, r.secs - own) / r.secs
    }
    val overhead = Stats.median(traced.map(_.secs)) / Stats.median(untraced.map(_.secs)) - 1
    val (eb, ebs) = w.epochBuilds
    val probeSpans = Seq("searchops.probe", "dedup.probe", "vectorops.probe", "cdcops.page")

    println("layer table (traced ops; self time = span minus child spans):")
    println(f"  ${"layer"}%-22s ${"calls"}%6s ${"self_s"}%10s ${"share_of_op_wall"}%16s")
    byName.toSeq.sortBy(_._1).foreach { case (name, ss) =>
      val self = ss.map(s => (s.end - s.start) / 1e9).sum
      println(f"  $name%-22s ${ss.length}%6d $self%10.4f ${self / wall}%16.4f")
    }
    println(f"  ${"(unattributed)"}%-22s ${traced.length}%6d ${wall - spans.map(s => (s.end - s.start) / 1e9).sum}%10.4f ${Stats.mean(attributed)}%16.4f")
    println("query executions by action: " + Trace.actions.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=${v.get}" }.mkString(" "))
    println(f"tracing overhead: traced op_p50_s=${Stats.median(traced.map(_.secs))}%.6f " +
      f"untraced op_p50_s=${Stats.median(untraced.map(_.secs))}%.6f share=$overhead%.4f")

    val drains = byName.get("cdcstream.drain").map(_.length).getOrElse(0)
    val base = Seq(
      ("cdcops.capture_s", perCall("cdcops.capture"), "s"),
      ("cdcops.events_per_image", 0.0, "ratio"),
      ("cdcstream.drain_s", perCall("cdcstream.drain"), "s"),
      ("stream.trigger_ms", progMs("triggerExecution", progress), "ms"),
      ("stream.wal_commit_ms", progMs("walCommit", progress), "ms"),
      ("stream.commit_offsets_ms", progMs("commitOffsets", progress), "ms"),
      ("stream.latest_offset_ms", progMs("latestOffset", progress), "ms"),
      ("stream.query_planning_ms", progMs("queryPlanning", progress), "ms"),
      ("ingest.apply_s", progMs("addBatch", ingestProg) / 1000.0, "s"),
      ("ingest.write_jobs_per_batch",
        if (ingestProg.isEmpty || drains == 0) 0.0
        else Trace.counted("writeCommands", "cdcstream.drain") / drains, "count"),
      ("io.files_written_per_op", traced.map(_.files._1).sum / n, "count"),
      ("io.bytes_written_mb", traced.map(_.files._2).sum / n / 1048576.0, "MiB"),
      ("ingest.settle_s", perCall("ingest.settle"), "s"),
      ("generations.publish_s", perCall("generations.publish"), "s"),
      ("searchops.probe_s", perCall("searchops.probe"), "s"),
      ("dedup.probe_s", perCall("dedup.probe"), "s"),
      ("vectorops.probe_s", perCall("vectorops.probe"), "s"),
      ("cdcops.page_s", perCall("cdcops.page"), "s"),
      ("probe.rows_read_per_result", {
        val got = Trace.counted("resultRows", probeSpans: _*)
        if (got > 0) Trace.counted("recordsRead", probeSpans: _*) / got else 0.0
      }, "ratio"),
      ("epoch.builds", eb.toDouble, "count"),
      ("epoch.build_s", ebs, "s"),
      ("catalyst.analysis_ms", total("analysisMs") / n, "ms"),
      ("catalyst.optimization_ms", total("optimizationMs") / n, "ms"),
      ("catalyst.planning_ms", total("planningMs") / n, "ms"),
      ("exec.jobs_per_op", total("jobs") / n, "count"),
      ("exec.tasks_per_op", total("tasks") / n, "count"),
      ("exec.busy_share", total("runMs") / (wall * 1000.0 * cores), "ratio"),
      ("exec.cpu_s", total("cpuNs") / 1e9 / n, "s"),
      ("shuffle.write_mb", total("shuffleWrite") / n / 1048576.0, "MiB"),
      ("shuffle.read_mb", total("shuffleRead") / n / 1048576.0, "MiB"),
      ("spill.mb", total("spill") / n / 1048576.0, "MiB"),
      ("jvm.gc_s", traced.map(_.gcMs).sum / 1000.0 / n, "s"),
      ("host.steal_share", stealShare, "ratio"),
      ("trace.unattributed_share", Stats.mean(attributed), "ratio"),
      ("trace.overhead_share", overhead, "ratio"))
    val extras = w.layerExtras(traced.length)
    base.map { case (k, v, u) => (k, extras.getOrElse(k, v), u) }
  }
}

/** Files under the run's work directory, to count what an op wrote. */
object Files {
  def scan(root: File): Map[String, Long] = {
    val out = mutable.HashMap.empty[String, Long]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else out(f.getPath) = f.length()
    walk(root)
    out.toMap
  }

  /** (files new or rewritten, their bytes) between two scans. */
  def delta(before: Map[String, Long], after: Map[String, Long]): (Long, Long) = {
    val fresh = after.filter { case (p, len) => before.get(p).forall(_ != len) }
    (fresh.size.toLong, fresh.values.sum)
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}

object Json {
  /** A finite number with all its digits. */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not finite")
    java.lang.Double.toString(v)
  }
}
