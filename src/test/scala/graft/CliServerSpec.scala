package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.sql.Timestamp

/** The reference's two user-facing surfaces end-to-end: CLI
  * fetch/update (riot-graph.py) and HTTP /update (server.py). */
class CliServerSpec extends SparkSpec {
  private val us = "\u001f"

  private def fixtures(): (String, String, String, String) = {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_cli_").toString
    val commits = s"$base/commits.txt"
    Files.writeString(java.nio.file.Paths.get(commits), Seq(
      s"aaa${us}2026-08-01 10:00:00 +0000${us}Merge #1 one",
      s"bbb${us}2026-08-02 10:00:00 +0000${us}Merge #2 two",
      s"ccc${us}2026-08-03 10:00:00 +0000${us}Merge #3 three"
    ).mkString("\n"))
    val artifacts = s"$base/artifacts"
    Seq(
      ("aaa", """{"sizes":{"t":{"b":{"bss":1,"text":2,"data":3}}}}""",
        Timestamp.valueOf("2026-08-01 10:05:00")),
      ("ccc", """{"sizes":{"t":{"b":{"bss":4,"text":5,"data":6}}}}""",
        Timestamp.valueOf("2026-08-03 10:05:00")))
      .toDF("hash", "payload", "artifact_ts")
      .write.parquet(artifacts)
    val prdim = s"$base/prdim"
    Seq((1L, "one"), (2L, "two"), (3L, "three"))
      .toDF("pr_num", "title").write.parquet(prdim)
    (commits, artifacts, prdim, s"$base/store")
  }

  /** GET `path` from a local server, failing the test instead of hanging
    * the suite if the reply takes more than two minutes. */
  private def get(port: Int, path: String): String = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    Await.result(Future(HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()), 120.seconds)
  }

  test("cli fetch writes the store; --noop counts without writing") {
    val (commits, artifacts, prdim, store) = fixtures()
    val conf = Cli.Conf("fetch", commits, artifacts, prdim, store,
      history = None, noop = true)
    val (nbNoop, neNoop) = Cli.run(spark, conf)
    assert((nbNoop, neNoop) === (2L, 3L)) // 2 build cells, 3 events
    assert(!new java.io.File(s"$store/pr_events").exists()) // dry run

    val (nb, ne) = Cli.run(spark, conf.copy(noop = false))
    assert((nb, ne) === (2L, 3L))
    assert(spark.read.parquet(s"$store/build_sizes").count() === 2)
    assert(spark.read.parquet(s"$store/pr_events").count() === 3)
  }

  test("cli fetch and update read their parquet inputs' schemas from " +
    "footers: no inference job") {
    val (commits, artifacts, prdim, store) = fixtures()
    val conf = Cli.Conf("fetch", commits, artifacts, prdim, store,
      history = None, noop = false)
    val (_, jobs) = nonQueryJobs {
      Cli.run(spark, conf)
      Cli.run(spark, conf.copy(mode = "update"))
    }
    val inference = jobs.filter(_._2.startsWith("parquet at Cli.scala"))
    assert(inference.isEmpty, jobs)
  }

  test("GET /update runs an incremental refresh over HTTP") {
    val (commits, artifacts, prdim, store) = fixtures()
    val conf = Cli.Conf("fetch", commits, artifacts, prdim, store,
      history = None, noop = false)
    Cli.run(spark, conf) // seed the store with the full history

    // new commit + artifact arrive after the seed
    Files.writeString(java.nio.file.Paths.get(commits), "\n" +
      s"ddd${us}2026-08-04 10:00:00 +0000${us}Merge #4 four",
      java.nio.file.StandardOpenOption.APPEND)

    val server = Server.start(spark, conf, 0)
    try {
      val port = server.getAddress.getPort
      assert(get(port, "/").contains("riotgraphsspark"))
      // only commit ddd is past the stored high-water mark; it has no
      // artifact, so 1 event + 0 builds
      assert(get(port, "/update") === """{"status":"ok","updates":1}""")
      assert(spark.read.parquet(s"$store/pr_events").count() === 4)
    } finally server.stop(0)
  }

  test("GET /update answers the rows the store gained; a second one with " +
    "no new commits answers 0 and writes nothing") {
    import spark.implicits._
    val (commits, artifacts, prdim, store) = fixtures()
    val conf = Cli.Conf("fetch", commits, artifacts, prdim, store,
      history = None, noop = false)
    Cli.run(spark, conf)
    Files.writeString(java.nio.file.Paths.get(commits), "\n" +
      s"ddd${us}2026-08-04 10:00:00 +0000${us}Merge #4 four",
      java.nio.file.StandardOpenOption.APPEND)
    Seq(("ddd", """{"sizes":{"t":{"b":{"bss":7,"text":8,"data":9},""" +
        """"c":{"bss":1,"text":1,"data":1}}}}""",
      Timestamp.valueOf("2026-08-04 10:05:00")))
      .toDF("hash", "payload", "artifact_ts")
      .write.mode("append").parquet(artifacts)

    def stored(): Long = Seq("build_sizes", "pr_events")
      .map(t => spark.read.parquet(s"$store/$t").count()).sum
    def dataFiles(): Set[String] = {
      import scala.jdk.CollectionConverters._
      val w = Files.walk(java.nio.file.Paths.get(store))
      try w.iterator.asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toSet
      finally w.close()
    }
    val server = Server.start(spark, conf, 0)
    try {
      val port = server.getAddress.getPort
      val before = stored()
      // 1 event (ddd) + 2 build cells of its artifact
      assert(get(port, "/update") === """{"status":"ok","updates":3}""")
      assert(stored() - before === 3L)

      val files = dataFiles()
      assert(get(port, "/update") === """{"status":"ok","updates":0}""")
      assert(stored() === before + 3L)
      assert(dataFiles() === files)
    } finally server.stop(0)
  }

  test("GET /update answers 500 with the failure's class and message") {
    val (commits, artifacts, prdim, store) = fixtures()
    val missing = s"$artifacts-missing"
    val conf = Cli.Conf("fetch", commits, missing, prdim, store,
      history = None, noop = false)
    val server = Server.start(spark, conf, 0)
    try {
      val port = server.getAddress.getPort
      val resp = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/update")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode === 500)
      val body = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(resp.body())
      assert(body.get("status").asText === "error")
      val err = body.get("error").asText
      assert(err.startsWith(
        classOf[org.apache.spark.sql.AnalysisException].getName + ": "),
        err)
      assert(err.contains("artifacts-missing"), err)
    } finally server.stop(0)
  }
}
