package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.sources.TimeSeriesStore
import org.apache.spark.sql.functions._

class TimeSeriesStoreSpec extends SparkSpec {

  private def mk(tsv: (String, Long)*) = {
    import spark.implicits._
    tsv.map { case (t, v) => (Timestamp.valueOf(t), v) }.toDF("ts", "dec")
  }

  test("day-partitioned write, range read prunes partitions") {
    val path = Files.createTempDirectory("graft_store_").toString
    TimeSeriesStore.write(mk(
      ("2026-08-01 10:00:00", 1L),
      ("2026-08-02 02:59:00", 2L), // before 03:00 -> still Aug 1 anchored
      ("2026-08-02 10:00:00", 3L),
      ("2026-08-03 10:00:00", 4L)), path)

    // layout: one dir per anchored day
    val dirs = new java.io.File(path).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dirs === Seq("day=2026-08-01", "day=2026-08-02",
      "day=2026-08-03"))

    val ranged = TimeSeriesStore.readRange(spark, path,
      "2026-08-01", "2026-08-03")
    assert(ranged.count() === 3) // aug1 (x2 incl. 02:59 next day) + aug2
    // partition pruning visible in the plan
    val plan = ranged.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters"), plan)
  }

  test("dynamic partition overwrite replays a day idempotently") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_store_").toString
    TimeSeriesStore.write(mk(("2026-08-01 10:00:00", 1L),
      ("2026-08-02 10:00:00", 2L)), path)
    // replay day 2 with corrected value; day 1 untouched
    TimeSeriesStore.write(mk(("2026-08-02 10:00:00", 20L)), path,
      overwritePartitions = true)
    val got = spark.read.parquet(path)
      .orderBy(col("ts")).select("dec").as[Long].collect().toSeq
    assert(got === Seq(1L, 20L))
  }

  test("write returns its row count and leaves the session's " +
    "partitionOverwriteMode as it found it") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.getOption(key)
    val path = Files.createTempDirectory("graft_store_").toString
    spark.conf.set(key, "static")
    try {
      assert(TimeSeriesStore.write(mk(("2026-08-01 10:00:00", 1L),
        ("2026-08-02 10:00:00", 2L), ("2026-08-02 11:00:00", 3L)),
        path) === 3L)
      assert(spark.conf.get(key) === "static")
      assert(TimeSeriesStore.write(mk(("2026-08-02 10:00:00", 20L)), path,
        overwritePartitions = true) === 1L)
      assert(spark.conf.get(key) === "static")
      assert(TimeSeriesStore.write(mk(), path) === 0L)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("read takes the schema from a footer on the driver: no job, the " +
    "inferred schema; readNewestDay reads the newest partition only") {
    val path = Files.createTempDirectory("graft_store_").toString
    TimeSeriesStore.write(mk(("2026-08-01 10:00:00", 1L),
      ("2026-08-02 10:00:00", 2L), ("2026-08-03 02:00:00", 3L)), path)
    val ((all, newest), descs) = jobDescriptions(
      util.Span(spark, "spec.read")((
        TimeSeriesStore.read(spark, path),
        TimeSeriesStore.readNewestDay(spark, path))))
    assert(!descs.contains("spec.read"), descs)

    assert(all.schema === spark.read.parquet(path).schema)
    assert(all.count() === 3)
    val nd = newest.get
    assert(nd.schema === all.schema)
    // 02:00 on Aug 3 anchors to Aug 2, with the 10:00 point
    assert(nd.select("dec").orderBy("dec").collect().map(_.getLong(0))
      .toSeq === Seq(2L, 3L))
    assert(nd.select(col("day").cast("string")).distinct().collect()
      .map(_.getString(0)).toSeq === Seq("2026-08-02"))
    assert(TimeSeriesStore.readNewestDay(spark, s"$path-missing").isEmpty)
  }
}
