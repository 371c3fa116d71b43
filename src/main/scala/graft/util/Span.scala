package graft.util

import org.apache.spark.sql.SparkSession

/** A named phase of engine work: every Spark job `body` submits from the
  * calling thread carries `name` as its `spark.job.description`, which
  * listeners read off job-start events (`graft.tools.TimeOne` sums them
  * into its profile). The caller's previous description, null included,
  * is restored when `body` returns or throws. */
object Span {
  private val Key = "spark.job.description"

  def apply[A](s: SparkSession, name: String)(body: => A): A = {
    val sc = s.sparkContext
    val prev = sc.getLocalProperty(Key)
    sc.setJobDescription(name)
    try body
    finally sc.setLocalProperty(Key, prev)
  }
}
