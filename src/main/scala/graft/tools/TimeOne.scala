package graft.tools

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Time and profile named queries.
  * Usage: runMain graft.tools.TimeOne <sfDir> <reps> <name> [name ...]
  *
  * Per rep it prints `[timeone] <name> rep=<r> rows=<n> sec=<wall>` and
  * one `[profile] {json}` line: wall time, driver gap (wall time with no
  * stage running), and per job description — the engine's
  * [[graft.util.Span]] names — the jobs, stages, tasks, executor run
  * time, shuffle read/write and spill of the stages those jobs ran.
  * Jobs submitted outside any span are listed under "". */
object TimeOne {
  private final class Acc {
    var jobs, stages, tasks, execMs, shuffleRead, shuffleWrite, spill = 0L
    def toMap: ListMap[String, Any] = ListMap("jobs" -> jobs,
      "stages" -> stages, "tasks" -> tasks, "exec_s" -> execMs / 1e3,
      "shuffle_read_mb" -> mb(shuffleRead),
      "shuffle_write_mb" -> mb(shuffleWrite), "spill_mb" -> mb(spill))
  }

  private def mb(b: Long): Double = math.round(b / 1048576.0 * 1e3) / 1e3

  /** Sums each finished stage into the description of the job that
    * submitted it. Every callback runs on the single listener-bus
    * thread; the main thread reads under the same lock. */
  private final class Profiler extends SparkListener {
    val byDesc = mutable.LinkedHashMap.empty[String, Acc]
    val stageDesc = mutable.Map.empty[Int, String]
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
    var openJobs = 0
    @volatile var lastEventMs = 0L

    private def touch(): Unit = lastEventMs = System.currentTimeMillis()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val d = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      byDesc.getOrElseUpdate(d, new Acc).jobs += 1
      e.stageIds.foreach(stageDesc(_) = d)
      openJobs += 1
      touch()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      openJobs -= 1
      touch()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val i = e.stageInfo
        val a = byDesc.getOrElseUpdate(stageDesc.getOrElse(i.stageId, ""),
          new Acc)
        a.stages += 1
        a.tasks += i.numTasks
        Option(i.taskMetrics).foreach { m =>
          a.execMs += m.executorRunTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
        for (s <- i.submissionTime; c <- i.completionTime)
          intervals += s -> c
        touch()
      }

    /** Wait until every started job has ended and the bus has been quiet
      * for 300 ms (at most 10 s), so a rep's events are all delivered. */
    def drain(): Unit = {
      val deadline = System.currentTimeMillis() + 10000
      while ((synchronized(openJobs) > 0 ||
          System.currentTimeMillis() - lastEventMs < 300) &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
    }

    /** The profile of the rep that ran over [t0, t1] (epoch ms); resets
      * the counters for the next rep. */
    def take(t0: Long, t1: Long): (Long, ListMap[String, Any]) =
      synchronized {
        val busy = intervals.map { case (s, c) => (s max t0, c min t1) }
          .filter { case (s, c) => s < c }.sortBy(_._1)
          .foldLeft((0L, t0)) { case ((sum, end), (s, c)) =>
            (sum + (c - (s max end)).max(0L), end max c)
          }._1
        val spans = ListMap(byDesc.toSeq.sortBy(-_._2.execMs)
          .map { case (d, a) => d -> a.toMap }: _*)
        byDesc.clear()
        stageDesc.clear()
        intervals.clear()
        (t1 - t0 - busy, spans)
      }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val profiler = new Profiler
    spark.sparkContext.addSparkListener(profiler)
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    for (name <- names; r <- 1 to reps) {
      val fn = graft.SparkEntry.queries(name)
      val t0 = System.currentTimeMillis()
      val n = fn(spark, sfDir).count()
      val t1 = System.currentTimeMillis()
      val dt = (t1 - t0) / 1e3
      println(f"[timeone] $name rep=$r rows=$n sec=$dt%.3f")
      profiler.drain()
      val (gapMs, spans) = profiler.take(t0, t1)
      println("[profile] " + json.writeValueAsString(ListMap(
        "query" -> name, "rep" -> r, "rows" -> n, "wall_s" -> dt,
        "driver_gap_s" -> gapMs / 1e3, "spans" -> spans)))
    }
    spark.stop()
  }
}
