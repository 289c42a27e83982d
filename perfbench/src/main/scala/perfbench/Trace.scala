package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer tracing, attached from outside the library: spans the harness
  * records around each public call it makes, plus Spark's public
  * listeners (job/task, query-execution and streaming progress). Every
  * listener checks [[Trace.on]] first, so an untraced run pays one
  * volatile read per event. Spans stay in memory and are summarized at
  * the end of the run. */
object Trace {
  @volatile var on = false

  final case class Span(name: String, start: Long, end: Long, op: Int)

  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var currentOp = -1

  def beginOp(i: Int): Unit = currentOp = i
  def endOp(): Unit = currentOp = -1

  /** Times `body` as layer `name`; recorded only while tracing is on. */
  def span[T](name: String)(body: => T): T = {
    if (!on) body
    else {
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans.synchronized { spans += Span(name, t0, t1, currentOp) }
      }
    }
  }

  @volatile private var drainBus: () => Unit = () => ()

  /** Waits until the listeners have seen every event posted so far. */
  def drain(): Unit = drainBus()
  private val spanCounters = mutable.HashMap.empty[String, Map[String, Double]]

  /** Lets [[drain]] wait for `sc`'s listener bus. */
  def attach(sc: org.apache.spark.SparkContext): Unit =
    drainBus = () => org.apache.spark.ListenerBusDrain(sc)

  /** [[span]] that also attributes the listener counters (jobs, records
    * read, write commands, ...) to `name`; it waits for listener delivery
    * on both sides, so it costs a little more. */
  def countedSpan[T](name: String)(body: => T): T =
    if (!on) body
    else {
      drainBus()
      val c0 = C.snapshot
      try span(name)(body)
      finally {
        drainBus()
        val c1 = C.snapshot
        spanCounters.synchronized {
          val acc = spanCounters.getOrElse(name, Map.empty[String, Double])
          spanCounters(name) = c1.map { case (k, v) => k -> (acc.getOrElse(k, 0.0) + v - c0(k)) }
        }
      }
    }

  /** A probe: a counted span whose result rows are tallied too. */
  def probe[T](name: String)(body: => Seq[T]): Seq[T] = {
    val out = countedSpan(name)(body)
    if (on) C.resultRows.addAndGet(out.length.toLong)
    out
  }

  /** Counter `key` summed over the counted spans named `names`. */
  def counted(key: String, names: String*): Double = spanCounters.synchronized {
    names.map(n => spanCounters.get(n).flatMap(_.get(key)).getOrElse(0.0)).sum
  }

  /** Action name → query executions seen, for the layer report. */
  val actions = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  def spansSnapshot: Seq[Span] = spans.synchronized(spans.toList)

  /** Monotone counters fed by the listeners; the harness reads deltas. */
  object C {
    val jobs = new AtomicLong
    val tasks = new AtomicLong
    val runMs = new AtomicLong
    val cpuNs = new AtomicLong
    val shuffleWrite = new AtomicLong
    val shuffleRead = new AtomicLong
    val spill = new AtomicLong
    val recordsRead = new AtomicLong
    val analysisMs = new AtomicLong
    val optimizationMs = new AtomicLong
    val planningMs = new AtomicLong
    val writeCommands = new AtomicLong
    val resultRows = new AtomicLong

    def snapshot: Map[String, Double] = Map(
      "jobs" -> jobs.get.toDouble, "tasks" -> tasks.get.toDouble,
      "runMs" -> runMs.get.toDouble, "cpuNs" -> cpuNs.get.toDouble,
      "shuffleWrite" -> shuffleWrite.get.toDouble,
      "shuffleRead" -> shuffleRead.get.toDouble,
      "spill" -> spill.get.toDouble, "recordsRead" -> recordsRead.get.toDouble,
      "analysisMs" -> analysisMs.get.toDouble,
      "optimizationMs" -> optimizationMs.get.toDouble,
      "planningMs" -> planningMs.get.toDouble,
      "writeCommands" -> writeCommands.get.toDouble,
      "resultRows" -> resultRows.get.toDouble)
  }

  /** Streaming progress, one entry per micro-batch that read rows. */
  final case class Progress(query: String, durations: Map[String, Long])
  private val progress = mutable.ArrayBuffer.empty[Progress]
  def progressSnapshot: Seq[Progress] = progress.synchronized(progress.toList)

  object jobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (on) C.jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (on && e.taskMetrics != null) {
        val m = e.taskMetrics
        C.tasks.incrementAndGet()
        C.runMs.addAndGet(m.executorRunTime)
        C.cpuNs.addAndGet(m.executorCpuTime)
        C.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        C.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        C.spill.addAndGet(m.diskBytesSpilled)
        C.recordsRead.addAndGet(m.inputMetrics.recordsRead)
      }
  }

  object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (on && e.progress.numInputRows > 0) {
        val d = e.progress.durationMs
        val m = Seq("triggerExecution", "addBatch", "walCommit", "commitOffsets",
          "latestOffset", "queryPlanning").flatMap(k =>
          Option(d.get(k)).map(v => k -> v.longValue()))
        progress.synchronized {
          progress += Progress(e.progress.id.toString, m.toMap)
        }
      }
  }

  /** DataFrameWriter writes reach the query-execution listener as
    * commands. A `saveAsTable` arrives as a wrapper and a CTAS command as
    * well, so only the inner insert, which writes the files, counts. */
  val writeCommand = "^(InsertInto|AppendData|OverwriteByExpression)".r
}

/** Registered through `spark.sql.queryExecutionListeners`, so every
  * session the library derives (stream micro-batch clones, probe-session
  * clones, `newSession` readers) reports here too. */
class TraceQueryListener extends QueryExecutionListener {
  import Trace.C
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (Trace.on) {
      val action = if (funcName == "command") s"command:${qe.logical.nodeName}" else funcName
      Trace.actions.computeIfAbsent(action, _ => new AtomicLong).incrementAndGet()
      val ph = qe.tracker.phases
      ph.get("analysis").foreach(p => C.analysisMs.addAndGet(p.durationMs))
      ph.get("optimization").foreach(p => C.optimizationMs.addAndGet(p.durationMs))
      ph.get("planning").foreach(p => C.planningMs.addAndGet(p.durationMs))
      if (funcName == "command" && Trace.writeCommand.findFirstIn(qe.logical.nodeName).isDefined)
        C.writeCommands.incrementAndGet()
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
