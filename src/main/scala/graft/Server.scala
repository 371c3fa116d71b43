package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

/** HTTP trigger surface mirroring the reference's Flask micro-server
  * (ref server.py:11-29): `GET /update` runs one incremental refresh
  * and answers `{"status":"ok","updates":n}`; `GET /` is the hello
  * route. Built on the JDK's HttpServer — no web framework, matching
  * the zero-extra-dependency build.
  *
  * At scale this is the same "triggered micro-batch" control plane as
  * the reference's cron+Flask pair: the endpoint only SCHEDULES work;
  * the heavy lifting stays in Spark executors (O-54,
  * Trigger.AvailableNow semantics via Pipeline.incremental).
  */
object Server {
  private val Json = new ObjectMapper()

  /** Start serving; port 0 binds an ephemeral port. Returns the server
    * (caller stops it). */
  def start(spark: SparkSession, conf: Cli.Conf, port: Int): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)

    def respond(ex: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }

    server.createContext("/", (ex: HttpExchange) =>
      respond(ex, 200, """{"service":"riotgraphsspark"}"""))
    server.createContext("/update", (ex: HttpExchange) =>
      try {
        val (nb, ne) = Cli.run(spark, conf.copy(mode = "update"))
        respond(ex, 200,
          s"""{"status":"ok","updates":${nb + ne}}""")
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          val cause = Json.writeValueAsString(
            s"${e.getClass.getName}: ${e.getMessage}")
          respond(ex, 500, s"""{"status":"error","error":$cause}""")
      })
    server.start()
    server
  }

  def main(args: Array[String]): Unit = {
    val conf = Cli.parse(args)
    val port = sys.env.getOrElse("GRAFT_PORT", "8080").toInt
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val server = start(spark, conf, port)
    println(s"""{"status":"serving","port":${server.getAddress.getPort}}""")
    Thread.currentThread().join()
  }
}
