package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** Run `body` and return its value with the `spark.job.description`
    * ("" when unset) of every job submitted while it ran. The listener
    * bus delivers in order: once a marker job submitted after `body` is
    * seen, every job of `body` has been seen too. */
  def jobDescriptions[T](body: => T): (T, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val key = "spark.job.description"
    val marker = "spec.marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty(key))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    val out = try {
      val out = body
      util.Span(spark, marker)(spark.range(1).count())
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.contains(marker) &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      out
    } finally sc.removeSparkListener(listener)
    val descs = seen.asScala.toSeq
    assert(descs.contains(marker), "listener bus did not drain")
    (out, descs.takeWhile(_ != marker))
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
