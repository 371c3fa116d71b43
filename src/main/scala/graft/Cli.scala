package graft

import graft.sources.{Ingest, Pipeline, TimeSeriesStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Command-line surface mirroring the reference's riot-graph.py
  * (ref riot-graph.py:42-89): `fetch` = backfill, `update` = incremental
  * refresh, `--noop` = dry-run counting without writing (rg.py:35),
  * `--history=N` = bounded replay (rg.py:43-50).
  *
  *   runMain graft.Cli fetch --commits=<textfile> --artifacts=<parquet>
  *     --prdim=<parquet> --store=<dir> [--history=N] [--noop]
  *   runMain graft.Cli update  ... (same inputs; reads the store's
  *     pr_events for the high-water mark)
  *
  * Inputs replace the reference's process boundaries: the git subprocess
  * becomes a commit-log text file, the CI/GitHub HTTP fetches become
  * artifact/dim tables (any Spark-readable source).
  */
object Cli {

  case class Conf(mode: String, commits: String, artifacts: String,
      prDim: String, store: String, history: Option[Int], noop: Boolean,
      writeBuilds: Boolean = true, writeEvents: Boolean = true)

  /** Flags override `--config=<ini>` values, which override built-in
    * fallbacks — configparser-style precedence (ref GraphConf,
    * rg.py:368-414): [inputs] commits/artifacts/prdim, [store] path,
    * [main] builds/events toggles (rg.py:382-385's row-kind switches). */
  def parse(args: Array[String]): Conf = {
    val opts = args.drop(1).filter(_.startsWith("--"))
      .map { a =>
        val kv = a.stripPrefix("--").split("=", 2)
        kv(0) -> (if (kv.length > 1) kv(1) else "true")
      }.toMap
    val ini = opts.get("config").map(sources.GraftConf.load)
    def pathOpt(flag: String, section: String, key: String): Option[String] =
      opts.get(flag).orElse(ini.flatMap(_.getOption(section, key)))
    def path(flag: String, section: String, key: String): String =
      pathOpt(flag, section, key)
        .getOrElse(sys.error(s"--$flag (or config [$section] $key) required"))
    Conf(
      mode = args.headOption.getOrElse("fetch"),
      commits = path("commits", "inputs", "commits"),
      artifacts = path("artifacts", "inputs", "artifacts"),
      prDim = path("prdim", "inputs", "prdim"),
      store = path("store", "store", "path"),
      history = opts.get("history").map(_.toInt),
      noop = opts.contains("noop"),
      writeBuilds = opts.get("builds").map(_.toBoolean)
        .getOrElse(ini.forall(_.getBoolean("main", "builds", true))),
      writeEvents = opts.get("events").map(_.toBoolean)
        .getOrElse(ini.forall(_.getBoolean("main", "events", true))))
  }

  /** Run one CLI invocation; returns (build rows, event rows) written
    * (or counted under --noop). */
  def run(spark: SparkSession, conf: Conf): (Long, Long) = {
    val commitsRaw = spark.read.text(conf.commits)
    // schema from a footer on the driver: no inference job per run
    def input(path: String): DataFrame = ops.BucketedStore
      .reader(spark, new org.apache.hadoop.fs.Path(path), None).parquet(path)
    val artifacts = input(conf.artifacts)
    val prDim = input(conf.prDim)

    val (builds, events) = conf.mode match {
      case "update" =>
        val stored = storedEvents(spark, conf.store)
        Pipeline.incremental(commitsRaw, artifacts, prDim, stored)
      case _ =>
        val (b, e) = Pipeline.backfill(commitsRaw, artifacts, prDim)
        conf.history match {
          case Some(n) =>
            val hi = Ingest.parseCommitLog(commitsRaw)
              .agg(max(col("commit_ts"))).head().getTimestamp(0)
            val lo = new java.sql.Timestamp(
              hi.getTime - n.toLong * 24 * 3600 * 1000)
            (b.filter(col("ts") >= lit(lo)), e.filter(col("ts") >= lit(lo)))
          case None => (b, e)
        }
    }

    // a written row kind is counted by its write, in the same pass
    def rows(df: DataFrame, write: Boolean, table: String): Long =
      if (conf.noop || !write) df.count()
      else TimeSeriesStore.write(df, s"${conf.store}/$table")
    (rows(builds, conf.writeBuilds, "build_sizes"),
      rows(events, conf.writeEvents, "pr_events"))
  }

  /** Stored pr_events of the newest day — which holds the high-water
    * mark, as the anchored day is monotone in `ts` — or an empty typed
    * frame when the store is new (the empty-store bootstrap,
    * rg.py:140-141 / SURVEY §1.2). The store is listed through the
    * Hadoop FileSystem of its path's own scheme, so a store on HDFS/S3
    * bootstraps the same way. */
  def storedEvents(spark: SparkSession, store: String): DataFrame =
    TimeSeriesStore.readNewestDay(spark, s"$store/pr_events").getOrElse(
      spark.range(0)
        .select(lit(null).cast("timestamp").as("ts"),
          lit(null).cast("long").as("pr_num"),
          lit(null).cast("string").as("hash")))

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (nb, ne) = run(spark, conf)
    println(s"""{"status":"ok","builds":$nb,"events":$ne,"noop":${conf.noop}}""")
    spark.stop()
  }
}
