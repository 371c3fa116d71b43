package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** Run `body` and return its value with the `spark.job.description`
    * ("" when unset) of every job submitted while it ran. */
  def jobDescriptions[T](body: => T): (T, Seq[String]) = {
    val (out, seen) = listen(body) {
      case e: SparkListenerJobStart => (e.properties, ())
    }
    (out, seen.map(_._1))
  }

  /** Run `body` and return its value with the job description and task
    * count of every stage submitted while it ran that reads a shuffle
    * (has a parent stage), whose width is the shuffle's partition
    * count. Stages that only scan their input are left out: their width
    * is the input's partitioning. */
  def shuffleReadStageTasks[T](body: => T): (T, Seq[(String, Int)]) =
    listen(body) {
      case e: SparkListenerStageSubmitted if e.stageInfo.parentIds.nonEmpty =>
        (e.properties, e.stageInfo.numTasks)
    }

  /** Run `body` and return its value with the job description and
    * first stage name (its call site) of every job submitted while it
    * ran outside any SQL execution: schema inference and file listing
    * run there, query execution does not. */
  def nonQueryJobs[T](body: => T): (T, Seq[(String, String)]) =
    listen(body) {
      case e: SparkListenerJobStart if Option(e.properties)
          .forall(_.getProperty("spark.sql.execution.id") == null) =>
        (e.properties, e.stageInfos.map(_.name).headOption.getOrElse(""))
    }

  /** Record `pick`'s value, keyed by the job description of the event's
    * properties, for every job-start and stage-submitted event while
    * `body` runs. The listener bus delivers in order: once a marker job
    * submitted after `body` has started, every event of `body` has been
    * seen too. */
  private def listen[T, A](body: => T)(pick: PartialFunction[
      SparkListenerEvent, (java.util.Properties, A)]): (T, Seq[(String, A)]) = {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val marker = "spec.marker"
    def descOf(p: java.util.Properties): String =
      Option(p).flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, A)]
    val drained = new java.util.concurrent.CountDownLatch(1)
    def record(e: SparkListenerEvent): Unit =
      pick.lift(e).foreach { case (p, a) => seen.add((descOf(p), a)) }
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (descOf(e.properties) == marker) drained.countDown() else record(e)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        record(e)
    }
    sc.addSparkListener(listener)
    val out = try {
      val out = body
      util.Span(spark, marker)(spark.range(1).count())
      drained.await(30, java.util.concurrent.TimeUnit.SECONDS)
      out
    } finally sc.removeSparkListener(listener)
    assert(drained.getCount == 0, "listener bus did not drain")
    (out, seen.asScala.toSeq.filter(_._1 != marker))
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh_").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
