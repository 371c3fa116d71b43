package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.{ExecutionListenerManager, QueryExecutionListener}

/** Spans around the benchmark's calls into the program, plus the raw
  * Spark events that happened while they were open. Everything stays in
  * memory; [[Trace.report]] attributes each event to the innermost span
  * open at the event's own timestamp once the run ends, so the listener
  * bus being asynchronous does not matter. */
final class Trace {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private val jobs = mutable.ArrayBuffer.empty[Long]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val plans = mutable.ArrayBuffer.empty[(Long, Long)]
  @volatile private var lastEventMs = 0L

  /** Record `body` as a span named `name`, nested under the innermost
    * open span. Spans may open on another thread (the stream's
    * foreachBatch) while the client thread waits on them. */
  def span[A](name: String)(body: => A): A = {
    val sp = synchronized {
      val s = Span(spans.length, name, open.headOption.map(_.id),
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      open.push(s)
      s
    }
    try body
    finally synchronized {
      sp.endMs = System.currentTimeMillis()
      sp.endNs = System.nanoTime()
      open.pop()
    }
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobs += e.time
      lastEventMs = System.currentTimeMillis()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val rec = StageRec(i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L), i.numTasks,
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.inputMetrics.bytesRead,
        if (m == null) 0L else m.inputMetrics.recordsRead,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.outputMetrics.bytesWritten,
        if (m == null) 0L else m.outputMetrics.recordsWritten,
        if (m == null) 0L else m.diskBytesSpilled + m.memoryBytesSpilled)
      Trace.this.synchronized {
        stages += rec
        lastEventMs = System.currentTimeMillis()
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) Trace.this.synchronized {
        plans += ph.map(_.startTimeMs).min -> ph.map(_.durationMs).sum
        lastEventMs = System.currentTimeMillis()
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = record(qe)
  }

  private val managers = mutable.Set.empty[ExecutionListenerManager]
  private var attachedTo: Option[SparkSession] = None

  /** Attach both listeners to `spark` (its context and its own listener
    * manager). Streaming queries run on a clone of the session with its
    * own manager: [[attachQueries]] adds the listener there. */
  def attach(spark: SparkSession): Unit = synchronized {
    if (attachedTo.isEmpty) {
      spark.sparkContext.addSparkListener(sparkListener)
      attachedTo = Some(spark)
    }
    attachQueries(spark)
  }

  def attachQueries(s: SparkSession): Unit = synchronized {
    if (attachedTo.nonEmpty && !managers.contains(s.listenerManager)) {
      s.listenerManager.register(queryListener)
      managers += s.listenerManager
    }
  }

  /** Wait until the listener bus has gone quiet (no event for 300 ms,
    * at most 10 s), then detach: the events of the last traced op are
    * all delivered before the next, untraced op starts. */
  def detach(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() - lastEventMs < 300 &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
    synchronized {
      attachedTo.foreach(_.sparkContext.removeSparkListener(sparkListener))
      managers.foreach(_.unregister(queryListener))
      managers.clear()
      attachedTo = None
    }
  }

  /** Per-span counters, each event counted once, in the innermost span
    * open at its timestamp. */
  def report(): Seq[SpanStats] = synchronized {
    val closed = spans.filter(_.endNs > 0).toIndexedSeq
    def innermost(t: Long): Option[Int] =
      closed.filter(s => s.startMs <= t && t <= s.endMs)
        .sortBy(s => (s.startMs, s.id)).lastOption.map(_.id)
    val stats: Map[Int, SpanStats] = closed.map(s => s.id ->
      new SpanStats(s.name, (s.endNs - s.startNs) / 1e9)).toMap
    jobs.foreach(t => innermost(t).foreach(i => stats(i).jobs += 1))
    stages.foreach { r =>
      innermost(r.submitMs).foreach { i =>
        val st = stats(i)
        st.stages += 1
        st.tasks += r.tasks
        st.execRunMs += r.execRunMs
        st.inputBytes += r.inputBytes
        st.inputRecords += r.inputRecords
        st.shuffleBytes += r.shuffleBytes
        st.outputBytes += r.outputBytes
        st.outputRecords += r.outputRecords
        st.spillBytes += r.spillBytes
      }
    }
    plans.foreach { case (t, ms) =>
      innermost(t).foreach(i => stats(i).planMs += ms) }
    val intervals = stages.map(r => (r.submitMs, r.endMs)).toSeq
    closed.foreach { s =>
      stats(s.id).driverGapS =
        Stats.driverGap(s.startMs, s.endMs, intervals) / 1e3
      stats(s.id).childWallS = closed.filter(_.parent.contains(s.id))
        .map(c => (c.endNs - c.startNs) / 1e9).sum
    }
    closed.map(s => stats(s.id))
  }
}

object Trace {
  final case class Span(id: Int, name: String, parent: Option[Int],
      startMs: Long, startNs: Long) {
    var endMs = 0L
    var endNs = 0L
  }

  final case class StageRec(submitMs: Long, endMs: Long, tasks: Int,
      execRunMs: Long, inputBytes: Long, inputRecords: Long,
      shuffleBytes: Long, outputBytes: Long, outputRecords: Long,
      spillBytes: Long)

  final class SpanStats(val name: String, val wallS: Double) {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var execRunMs = 0L
    var inputBytes = 0L
    var inputRecords = 0L
    var shuffleBytes = 0L
    var outputBytes = 0L
    var outputRecords = 0L
    var spillBytes = 0L
    var planMs = 0L
    var driverGapS = 0.0
    var childWallS = 0.0
    def selfS: Double = wallS - childWallS
  }

  /** The spans the benchmark records, in report order. */
  val SpanNames: Seq[String] = Seq("Cli.backfill", "Server.update",
    "TimeSeriesStore.panel", "Streams.microbatch", "UnifiedClusters.update",
    "UnifiedClusters.retract", "UnifiedClusters.readback",
    "UnifiedClusters.compact", "Similarity.probe", "Similarity.append",
    "Similarity.compact")

  val Counters: Seq[String] = Seq("wall_s", "jobs", "stages", "tasks",
    "exec_run_s", "driver_gap_s", "plan_s", "input_mb", "shuffle_mb",
    "store_write_mb")

  private val MB = 1024.0 * 1024.0

  def counter(s: SpanStats, c: String): Double = c match {
    case "wall_s" => s.wallS
    case "jobs" => s.jobs.toDouble
    case "stages" => s.stages.toDouble
    case "tasks" => s.tasks.toDouble
    case "exec_run_s" => s.execRunMs / 1e3
    case "driver_gap_s" => s.driverGapS
    case "plan_s" => s.planMs / 1e3
    case "input_mb" => s.inputBytes / MB
    case "shuffle_mb" => s.shuffleBytes / MB
    case "store_write_mb" => s.outputBytes / MB
  }

  def unit(c: String): String = c match {
    case "wall_s" | "exec_run_s" | "driver_gap_s" | "plan_s" => "s"
    case "input_mb" | "shuffle_mb" | "store_write_mb" => "MB"
    case _ => "count"
  }
}
