package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Cli, Server}
import graft.sources.{Pipeline, TimeSeriesStore}

/** ci_nightly: the reference's own traffic on one time-series store. A
  * timed bootstrap `fetch --history=D` over generated months of history,
  * then nights: append the night's git log, sizes.json artifact and PR
  * titles, `GET /update`, and read a few 30-day Grafana panels back. */
object CiNightly {

  val HistoryNights = 90
  val HistoryDays = 30
  val PanelsPerNight = 5
  val PanelDays = 30

  private final case class Dirs(root: String) {
    val commits = s"$root/commits"
    val artifacts = s"$root/artifacts"
    val prDim = s"$root/prdim"
    val store = s"$root/store"
    def conf(mode: String, history: Option[Int]): Cli.Conf =
      Cli.parse(Array(mode, s"--commits=$commits", s"--artifacts=$artifacts",
        s"--prdim=$prDim", s"--store=$store") ++
        history.map(h => s"--history=$h"))
  }

  /** Land nights [from, until) of `sh` as input files: one git-log text
    * file, one artifact parquet file and one PR-title parquet file. */
  private def landNights(spark: SparkSession, sh: Gen.CiShape, d: Dirs,
      from: Int, until: Int): Unit = {
    import spark.implicits._
    Files.createDirectories(Paths.get(d.commits))
    Files.write(Paths.get(d.commits, f"nights_$from%04d.txt"),
      (from until until).flatMap(sh.gitLog).mkString("", "\n", "\n")
        .getBytes(UTF_8))
    Gen.parMap(from until until)(sh.artifact)
      .map { case (h, p, ts) => (h, p, new java.sql.Timestamp(ts)) }
      .toDF("hash", "payload", "artifact_ts")
      .coalesce(1).write.mode("append").parquet(d.artifacts)
    (from until until).flatMap(sh.prTitles).toDF("pr_num", "title")
      .coalesce(1).write.mode("append").parquet(d.prDim)
  }

  private def day(sh: Gen.CiShape, night: Int): String = {
    val f = new java.text.SimpleDateFormat("yyyy-MM-dd")
    f.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    f.format(new java.util.Date(sh.day0Ms + night * sh.dayMs))
  }

  private def getUpdate(port: Int): (Int, String) = {
    val c = new java.net.URL(s"http://localhost:$port/update").openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    c.setReadTimeout(170000)
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val body = if (in == null) "" else new String(in.readAllBytes(), UTF_8)
    c.disconnect()
    (code, body)
  }

  private def panel(spark: SparkSession, d: Dirs, sh: Gen.CiShape,
      night: Int, test: Int): Array[Row] =
    Pipeline.latestPerSeries(TimeSeriesStore.readRange(spark,
        s"${d.store}/build_sizes", day(sh, night - PanelDays + 1),
        day(sh, night + 1))
      .filter(col("test") === sh.testName(test)))
      .select(col("board"), col("day").cast("string"), col("bss"),
        col("text"), col("data"), col("dec"))
      .collect()

  /** The panel must show, for every board of the test and every day in
    * the window, the generator's values of that night. */
  private def checkPanel(sh: Gen.CiShape, night: Int, test: Int,
      rows: Array[Row]): Option[String] = {
    val expected = (for {
      n <- (night - PanelDays + 1) to night
      (t, b) <- sh.cells if t == test
    } yield {
      val (bss, text, data) = sh.sizes(n, t, b)
      (sh.boardName(b), day(sh, n), bss, text, data, bss + text + data)
    }).toSet
    val got = rows.map(r => (r.getString(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    if (got == expected && rows.length == expected.size) None
    else Some(s"panel night $night test $test: ${rows.length} rows, " +
      s"${(expected -- got).size} expected rows missing, " +
      s"${(got -- expected).size} unexpected")
  }

  private def checkReply(sh: Gen.CiShape, night: Int)(
      r: (Int, String)): Option[String] = {
    val want = s""""updates":${sh.nightUpdates(night)}}"""
    if (r._1 != 200) Some(s"/update answered ${r._1}: ${r._2.take(200)}")
    else if (!r._2.endsWith(want))
      Some(s"/update night $night answered ${r._2.take(200)}, expected $want")
    else None
  }

  /** Rows the bootstrap must write: cells of nights whose artifact is at
    * or after hi - D days, plus merges at or after it. */
  private def bootstrapRows(sh: Gen.CiShape): (Long, Long) = {
    val hi = sh.mergeTimes(HistoryNights - 1).last
    val lo = hi - HistoryDays * sh.dayMs
    val builds = (0 until HistoryNights)
      .filter(n => sh.artifactTs(n) >= lo).map(_ => sh.cells.size.toLong).sum
    val events = (0 until HistoryNights)
      .map(n => sh.mergeTimes(n).count(_ >= lo).toLong).sum
    (builds, events)
  }

  def run(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val sh = Gen.CiShape(ctx.seed)
    ctx.info ++= Seq("tests" -> sh.tests, "boards" -> sh.boards,
      "cells_per_night" -> sh.cells.size,
      "merges_per_night" -> sh.mergesPerNight,
      "history_nights" -> HistoryNights, "history_days" -> HistoryDays,
      "panels_per_night" -> PanelsPerNight, "panel_days" -> PanelDays)

    val d = Dirs(s"${ctx.work}/ci")
    landNights(spark, sh, d, 0, HistoryNights)
    ctx.mark("inputs")
    ctx.info("input_mb") = Ctx.dirMb(ctx.work + "/ci")
    // the bootstrap is a one-shot `fetch`, so it is the first op and
    // runs in a fresh JVM, as a `fetch` from the command line does
    val (wantB, wantE) = bootstrapRows(sh)
    val fetched = ctx.op("backfill", "Cli.backfill")(
      Cli.run(spark, d.conf("fetch", Some(HistoryDays))))(r =>
      if (r == (wantB, wantE)) None
      else Some(s"bootstrap wrote $r, expected ${(wantB, wantE)}"))
    val backfillS = ctx.all("backfill").headOption.getOrElse(Double.NaN)

    val server = Server.start(spark, d.conf("update", None), 0)
    val port = server.getAddress.getPort
    // one night: land its inputs, GET /update, read panels back; the
    // server's first night follows the bootstrap without a warm-up night
    var n = HistoryNights
    val loopS = try ctx.loop { _ =>
      ctx.aside(landNights(spark, sh, d, n, n + 1))
      ctx.op("update", "Server.update")(getUpdate(port))(checkReply(sh, n))
      (0 until PanelsPerNight).foreach { k =>
        val test = Gen.pick(sh.tests, ctx.seed, 60, n, k)
        ctx.op("panel", "TimeSeriesStore.panel")(
          panel(spark, d, sh, n, test))(rows => checkPanel(sh, n, test, rows))
      }
      n += 1
    } finally server.stop(0)
    ctx.info("nights") = n - HistoryNights
    ctx.mark("loop")
    val overhead = ctx.overhead("panel", 3)(
      panel(spark, d, sh, n - 1, 0))

    // every stored row: dec = bss + text + data, and nothing lost
    val stored = spark.read.parquet(s"${d.store}/build_sizes")
      .agg(count(lit(1)), sum(when(col("dec") =!= col("bss") + col("text") +
        col("data"), 1).otherwise(0)))
      .head()
    val wantRows = wantB +
      (HistoryNights until n).map(_ => sh.cells.size.toLong).sum
    if (stored.getLong(0) != wantRows || stored.getLong(1) != 0L)
      ctx.fail(s"store holds ${stored.getLong(0)} build rows " +
        s"(${stored.getLong(1)} with dec != bss+text+data), expected $wantRows")

    ctx.mark("checks")
    Map("store_mb" -> Ctx.dirMb(d.store),
      "backfill_rows_per_s" -> fetched.map(r => (r._1 + r._2) / backfillS)
        .getOrElse(Double.NaN),
      "loop_s" -> loopS, "trace_overhead_s" -> overhead)
  }
}
