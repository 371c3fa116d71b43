package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's two entry points as whole-DataFrame plans
  * (SURVEY.md §3.1 backfill, §3.2 incremental).
  *
  * The reference walks days in a Python loop, probing commits
  * newest-first per day and stopping at the first with CI stats
  * (rg.py:43-50, rg.py:75-82). Here the WHOLE history is one plan:
  * join commits to artifacts (the "has stats" probe becomes an inner
  * join), rank within the 03:00Z-anchored day, keep the latest — no
  * driver iteration, so a 10-year backfill plans exactly like one day.
  *
  * Inputs (any source — files, JDBC, a fetcher's output):
  *  - commitLines: raw `\x1f` git-log lines (column `value`)
  *  - artifacts:   (hash STRING, payload STRING json, artifact_ts TS)
  *  - prDim:       (pr_num BIGINT, title STRING) — GitHub stand-in
  */
object Pipeline {

  /** Batch backfill -> (build_sizes, pr_events), shaped per
    * FIXTURES.md §2.3. */
  def backfill(commitLines: DataFrame, artifacts: DataFrame,
      prDim: DataFrame): (DataFrame, DataFrame) = {
    val commits = Ingest.parseCommitLog(commitLines)
    val events = Ingest.prEvents(commits, prDim)

    // "last commit of each day that HAS stats": inner join = has stats;
    // rank by commit_ts desc within the 03:00Z-anchored day (rg.py:61-68).
    // A `latest`-keyed artifact (rg.py:90-91) is first re-keyed to the
    // last commit before its Last-Modified, so it ranks like any other.
    val keyed = Ingest.resolveLatestAlias(artifacts, commits)
    val withStats = commits.join(keyed, Seq("hash"), "inner")
    val day = date_trunc("DAY", col("commit_ts") - expr("INTERVAL 3 HOURS"))
    val w = Window.partitionBy(day).orderBy(col("commit_ts").desc,
      col("hash"))
    val chosen = withStats
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("payload"), col("artifact_ts"))

    (Ingest.flattenSizes(chosen), events)
  }

  /** Incremental refresh (the `/update` path, rg.py:119-156): process
    * only commits after the store's high-water mark — the latest stored
    * event's timestamp (`SELECT hash ... ORDER BY time DESC LIMIT 1`,
    * rg.py:130-131). Empty store -> full history (the reference returns
    * 0; we take the more useful bootstrap semantics, SURVEY §1.2).
    * The mark is read once, here, and enters both plans as a literal:
    * neither plan reads `storedEvents`, so writing one output before
    * the other cannot move the other's cut-off.
    * Returns (new_build_sizes, new_pr_events).
    */
  def incremental(commitLines: DataFrame, artifacts: DataFrame,
      prDim: DataFrame, storedEvents: DataFrame)
      : (DataFrame, DataFrame) = {
    val hw = storedEvents.agg(max(col("ts"))).head().get(0)
    val parsed = Ingest.parseCommitLog(commitLines)
    val commits =
      if (hw == null) parsed else parsed.filter(col("commit_ts") > lit(hw))
    val events = Ingest.prEvents(commits, prDim)
    val builds = Ingest.flattenSizes(
      commits.join(Ingest.resolveLatestAlias(artifacts, commits),
          Seq("hash"), "inner")
        .select(col("payload"), col("artifact_ts")))
    (builds, events)
  }

  /** q48: the full backfill pipeline over a deterministic inline fixture
    * (sfDir-independent) — registered so the driver exercises the §3.1
    * path end-to-end: parse -> probe-join -> day-rank -> flatten. */
  def q48PipelineBackfill(s: org.apache.spark.sql.SparkSession, d: String)
      : DataFrame = {
    import s.implicits._
    val us = "\u001f"
    val lines = Seq(
      s"aaa${us}2026-08-01 10:00:00 +0000${us}Merge #101 one",
      s"bbb${us}2026-08-01 20:00:00 +0000${us}Merge #102 two",
      s"ccc${us}2026-08-02 12:00:00 +0000${us}Merge #103 three"
    ).toDF("value")
    val artifacts = Seq(
      ("aaa",
        """{"sizes":{"t1":{"b1":{"bss":1,"text":2,"data":3,"count":1}}}}""",
        java.sql.Timestamp.valueOf("2026-08-01 10:05:00")),
      ("bbb",
        """{"sizes":{"t1":{"b1":{"bss":10,"text":20,"data":30},
          |"b2":{"bss":7,"text":8,"data":9}}}}""".stripMargin,
        java.sql.Timestamp.valueOf("2026-08-01 20:05:00"))
    ).toDF("hash", "payload", "artifact_ts")
    val prDim = Seq((101L, "one"), (102L, "two"))
      .toDF("pr_num", "title")
    val (builds, events) = backfill(lines, artifacts, prDim)
    builds
      .join(events.select(col("pr_num"), col("description")),
        lit(true), "cross")
      .filter(col("pr_num") === 102L)
      .orderBy(col("test"), col("board"))
  }

  /** Daily last-value readback over a build_sizes store — the Grafana
    * "latest run" query (README.md:19-21): per (test, board, day), the
    * newest point. Composed from the asofJoin/selector primitives. */
  def latestPerSeries(buildSizes: DataFrame): DataFrame = {
    val day = date_trunc("DAY", col("ts") - expr("INTERVAL 3 HOURS"))
    val w = Window.partitionBy(col("test"), col("board"), day)
      .orderBy(col("ts").desc)
    buildSizes
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }
}
