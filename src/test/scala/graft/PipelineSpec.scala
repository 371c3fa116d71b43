package graft

import java.sql.Timestamp

import graft.sources.Pipeline
import org.apache.spark.sql.functions._

/** End-to-end pipeline over the golden reference-shape fixtures:
  * the full §3.1 backfill and §3.2 incremental paths. */
class PipelineSpec extends SparkSpec {
  private val us = "\u001f"

  private def sizesJson(scale: Int) =
    s"""{"sizes": {"tests/unittests": {
       |  "native": {"bss": ${100 * scale}, "text": ${200 * scale},
       |             "data": ${10 * scale}}}}}""".stripMargin

  test("backfill picks the last commit with stats per anchored day") {
    import spark.implicits._
    val lines = Seq(
      // day 1 (anchored 2026-08-01T03:00Z): two commits, newest has stats
      s"aaa${us}2026-08-01 10:00:00 +0000${us}Merge #1 early",
      s"bbb${us}2026-08-01 20:00:00 +0000${us}Merge #2 late",
      // day 2: only one commit, no artifact -> no build rows
      s"ccc${us}2026-08-02 12:00:00 +0000${us}Merge #3 orphan"
    ).toDF("value")
    val artifacts = Seq(
      ("aaa", sizesJson(1), Timestamp.valueOf("2026-08-01 10:05:00")),
      ("bbb", sizesJson(2), Timestamp.valueOf("2026-08-01 20:05:00"))
    ).toDF("hash", "payload", "artifact_ts")
    val prDim = Seq((1L, "first"), (2L, "second"), (3L, "third"))
      .toDF("pr_num", "title")

    val (builds, events) = Pipeline.backfill(lines, artifacts, prDim)
    val b = builds.select("test", "board", "bss", "text", "data", "dec")
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    // only bbb (latest with stats) contributes; dec = bss+text+data
    assert(b === Seq(("tests/unittests", "native", 200L, 400L, 20L, 620L)))
    assert(events.count() === 3) // every merge commit becomes an event
    val titles = events.orderBy(col("pr_num"))
      .select("description").as[String].collect().toSeq
    assert(titles === Seq("first", "second", "third"))
  }

  test("incremental processes only commits after the stored high-water") {
    import spark.implicits._
    val lines = Seq(
      s"aaa${us}2026-08-01 10:00:00 +0000${us}Merge #1",
      s"bbb${us}2026-08-02 10:00:00 +0000${us}Merge #2",
      s"ccc${us}2026-08-03 10:00:00 +0000${us}Merge #3"
    ).toDF("value")
    val artifacts = Seq(
      ("ccc", sizesJson(3), Timestamp.valueOf("2026-08-03 10:05:00"))
    ).toDF("hash", "payload", "artifact_ts")
    val prDim = Seq((3L, "third")).toDF("pr_num", "title")
    // store already holds events up to Aug 2
    val stored = Seq(
      (Timestamp.valueOf("2026-08-02 10:00:00"), 2L, "bbb"))
      .toDF("ts", "pr_num", "hash")

    val (builds, events) =
      Pipeline.incremental(lines, artifacts, prDim, stored)
    assert(events.select("hash").as[String].collect().toSeq === Seq("ccc"))
    assert(builds.count() === 1)

    // empty store -> bootstrap processes everything
    val (_, all) = Pipeline.incremental(lines, artifacts, prDim,
      stored.filter(lit(false)))
    assert(all.count() === 3)
  }

  test("latestPerSeries returns newest point per (test, board, day)") {
    import spark.implicits._
    val builds = Seq(
      (Timestamp.valueOf("2026-08-01 10:00:00"), "t", "b", 1L),
      (Timestamp.valueOf("2026-08-01 20:00:00"), "t", "b", 2L),
      (Timestamp.valueOf("2026-08-02 10:00:00"), "t", "b", 3L)
    ).toDF("ts", "test", "board", "dec")
    val got = Pipeline.latestPerSeries(builds)
      .orderBy(col("ts")).select("dec").as[Long].collect().toSeq
    assert(got === Seq(2L, 3L))
  }

  test("incremental parses sizes.json only above the commits join") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.JsonToStructs
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    val lines = Seq(
      s"aaa${us}2026-08-01 10:00:00 +0000${us}Merge #1",
      s"bbb${us}2026-08-02 10:00:00 +0000${us}Merge #2"
    ).toDF("value")
    // a file source, not a local relation: the optimizer would fold a
    // filter over local rows away before the plan could show it
    val dir = java.nio.file.Files.createTempDirectory("graft_arts_") + "/a"
    Seq(
      ("aaa", sizesJson(1), Timestamp.valueOf("2026-08-01 10:05:00")),
      ("bbb", sizesJson(2), Timestamp.valueOf("2026-08-02 10:05:00"))
    ).toDF("hash", "payload", "artifact_ts").write.parquet(dir)
    val artifacts = spark.read.parquet(dir)
    val prDim = Seq((2L, "second")).toDF("pr_num", "title")
    val stored = Seq((Timestamp.valueOf("2026-08-01 10:00:00"), 1L, "aaa"))
      .toDF("ts", "pr_num", "hash")

    val (builds, _) = Pipeline.incremental(lines, artifacts, prDim, stored)
    def parses(p: LogicalPlan) =
      p.exists(_.expressions.exists(_.exists(_.isInstanceOf[JsonToStructs])))
    val plan = builds.queryExecution.optimizedPlan
    val joins = plan.collect { case j: Join => j }
    assert(joins.nonEmpty, plan)
    assert(!joins.exists(j => j.children.exists(parses)), plan)
    assert(parses(plan), plan)
    assert(builds.select("test", "board", "dec").as[(String, String, Long)]
      .collect().toSeq === Seq(("tests/unittests", "native", 620L)))
  }
}
