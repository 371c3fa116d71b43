package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload per JVM.
  *
  *   perfbench.Main --workload <ci_nightly|curation_stream|ann_serve|
  *     ann_serve_selfprobe> --seed <n> --seconds <s> --trace <0|1>
  *     --work <dir>
  *
  * Prints human-readable detail lines, then, as its last stdout line, the
  * result object: with `--trace 0` the end-to-end metrics, with
  * `--trace 1` the per-layer metrics. */
object Main {

  val Workloads = Seq("ci_nightly", "curation_stream", "ann_serve")

  /** `ann_serve` with one more check, a self-probe of each append (see
    * [[AnnServe]]). The engine fails it, so it is not a listed workload;
    * it reports its metrics under `ann_serve`'s names. */
  val SelfProbe = "ann_serve_selfprobe"

  /** The listed workload whose metric names `workload` reports under. */
  def listedAs(workload: String): String =
    if (workload == SelfProbe) "ann_serve" else workload

  /** Seconds from the start of `main` after which the watchdog ends the
    * run: the benchmark must print its result within 180 s. */
  val DeadlineS = 160

  /** End-to-end metric -> (unit, the workload's own metric behind it). */
  val EndToEnd: Seq[(String, String, Map[String, String])] = Seq(
    ("setup_s", "s", Map("ci_nightly" -> "setup_s",
      "curation_stream" -> "setup_s", "ann_serve" -> "setup_s")),
    ("store_mb", "MB", Map("ci_nightly" -> "store_mb",
      "curation_stream" -> "store_mb", "ann_serve" -> "store_mb")),
    ("op_p50_s", "s", Map("ci_nightly" -> "update_p50_s",
      "curation_stream" -> "batch_p50_s", "ann_serve" -> "probe_p50_s")),
    ("aux_p50_s", "s", Map("ci_nightly" -> "panel_p50_s",
      "curation_stream" -> "retract_p50_s", "ann_serve" -> "append_p50_s")),
    ("throughput_per_s", "1/s", Map("ci_nightly" -> "backfill_rows_per_s",
      "curation_stream" -> "docs_per_s", "ann_serve" -> "probes_per_s")))

  /** Every per-layer metric name, in output order: each span's counters,
    * the ratios and store state measured outside the program, one spill
    * total per workload, and the tracing overhead. */
  val PerLayerNames: Seq[String] =
    (for (sp <- Trace.SpanNames; c <- Trace.Counters) yield s"$sp.$c") ++
      Seq("Server.update.rows_read_per_row_written", "Streams.overhead_s",
        "UnifiedClusters.update.drop_ratio",
        "UnifiedClusters.store.files_per_bucket",
        "Similarity.store.files_per_cell", "Similarity.probe.input_share") ++
      Workloads.map(w => s"$w.spill_mb") :+ "trace.overhead_s"

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"--$k is required"))
    val workload = opt("workload")
    require((Workloads :+ SelfProbe).contains(workload),
      s"unknown workload '$workload' (one of " +
        s"${(Workloads :+ SelfProbe).mkString(", ")})")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val work = opt("work")

    val t0 = System.nanoTime()
    val spark = session(workload, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = if (traced) Some(new Trace) else None
    val ctx = new Ctx(spark, work, seed, seconds, trace)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    // a run that overruns its deadline ends as a failed run with the
    // samples it has, not as a run without a result
    val watchdog = new Thread(() => {
      val left = DeadlineS * 1000L - (System.nanoTime() - t0) / 1000000L
      if (left > 0) Thread.sleep(left)
      if (done.compareAndSet(false, true)) ctx.synchronized {
        ctx.overran(s"run exceeded its deadline of $DeadlineS s and was stopped")
        report(workload, seed, seconds, traced, ctx, Map.empty, sessionS)
        Runtime.getRuntime.halt(0)
      }
    })
    watchdog.setDaemon(true)
    watchdog.start()
    val res =
      try workload match {
        case "ci_nightly" => CiNightly.run(ctx)
        case "curation_stream" => CurationStream.run(ctx)
        case "ann_serve" => AnnServe.run(ctx, selfProbe = false)
        case SelfProbe => AnnServe.run(ctx, selfProbe = true)
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          ctx.fail(s"workload aborted: $t")
          Map.empty[String, Double]
      } finally spark.stop()
    if (done.compareAndSet(false, true))
      report(workload, seed, seconds, traced, ctx, res, sessionS)
  }

  /** Print the detail line and, last, the result object. Unmeasured
    * metrics read 0 and make the run incorrect. */
  private def report(workload: String, seed: Long, seconds: Int,
      traced: Boolean, ctx: Ctx, res: Map[String, Double],
      sessionS: Double): Unit = ctx.synchronized {
    val own = ownMetrics(ctx, res, sessionS)
    printDetail(workload, seed, seconds, ctx, own, sessionS)
    val metrics: Seq[(String, Double, String)] =
      if (!traced) EndToEnd.map { case (name, unit, by) =>
        (name, own.get(by(listedAs(workload))).map(_._1).getOrElse(Double.NaN), unit)
      }
      else perLayer(workload, ctx, ctx.trace.get, res)
    val finite = metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    if (!finite) ctx.fail("a metric could not be measured: " +
      metrics.filter(m => m._2.isNaN || m._2.isInfinite).map(_._1).mkString(","))
    val correct = ctx.failed == 0 && finite
    val body = metrics.map { case (n, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n":{"value":${Json.num(x)},"unit":"$u"}"""
    }.mkString(",")
    println(s"""{"correct":$correct,"attempted":${ctx.attempted},""" +
      s""""failed":${ctx.failed},"metrics":{$body}}""")
    System.out.flush()
  }

  /** Spark at local[N] with N <= 4 and shuffle partitions = N. ci_nightly
    * mirrors `Server.main`'s session; the others mirror `graft.Bench`'s,
    * which also installs the engine's extensions. Scratch directories
    * point into the run's work directory. */
  def session(workload: String, work: String): SparkSession = {
    val n = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (workload != "ci_nightly") graft.GraftExtensions.install(spark)
    spark
  }

  /** The workload's own metrics under their own names (`update_p50_s`,
    * `docs_per_s`, ...): name -> (value, unit). */
  def ownMetrics(ctx: Ctx, res: Map[String, Double],
      sessionS: Double): Map[String, (Double, String)] = {
    val timed = ctx.samples.keys.toSeq.filterNot(_.startsWith("overhead_"))
      .flatMap { op =>
      val xs = ctx.samples(op).toSeq
      Seq(s"${op}_p50_s" -> (Stats.median(xs), "s"),
        s"${op}_tail_s" -> (Stats.tail(xs).value, "s"))
    }.toMap
    val units = Map("store_mb" -> "MB", "backfill_rows_per_s" -> "rows/s",
      "docs_per_s" -> "docs/s", "probes_per_s" -> "1/s",
      "recall_at_10" -> "ratio")
    val fromRes = res.collect { case (k, v) if units.contains(k) =>
      k -> (v, units(k)) }
    // set-up: from the start of the run (before the session) to the
    // start of the first timed op
    timed ++ fromRes + ("setup_s" -> (sessionS + ctx.firstOpS, "s"))
  }

  private def printDetail(workload: String, seed: Long, seconds: Int,
      ctx: Ctx, own: Map[String, (Double, String)], sessionS: Double): Unit = {
    val ops = (ctx.samples.keys ++ ctx.untracedSamples.keys).toSeq.distinct
    val opJson = ops.map { op =>
      val xs = ctx.all(op)
      val t = Stats.tail(xs)
      s""""$op":{"n":${xs.size},"p50_s":${Json.num(Stats.median(xs))},""" +
        s""""tail_s":${Json.num(t.value)},"tail_percentile":${t.percentile},""" +
        s""""ten_beyond":${t.tenBeyond},"samples_s":[""" +
        xs.map(x => Json.num(math.rint(x * 1000) / 1000)).mkString(",") + "]}"
    }.mkString(",")
    val ownJson = own.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString(",")
    val infoJson = ctx.info.map { case (k, v) =>
      s""""$k":${v match {
        case d: Double => Json.num(d)
        case n: Number => n.toString
        case s => "\"" + Json.esc(s.toString) + "\""
      }}""" }.mkString(",")
    println(s"""{"detail":"$workload","seed":$seed,"seconds":$seconds,""" +
      s""""session_s":${Json.num(sessionS)},"metrics":{$ownJson},""" +
      s""""ops":{$opJson},"inputs":{$infoJson},"errors":[""" +
      ctx.errors.map(e => "\"" + Json.esc(e) + "\"").mkString(",") + "]}")
  }

  /** Every per-layer metric (zero where this workload runs no such span),
    * plus the tracing overhead: the median of a read op repeated with the
    * listeners attached minus its median without. Prints the span table
    * first. */
  def perLayer(workload: String, ctx: Ctx, trace: Trace,
      res: Map[String, Double]): Seq[(String, Double, String)] = {
    val spans = trace.report()
    val byName = spans.groupBy(_.name)
    def med(name: String)(f: Trace.SpanStats => Double): Double =
      byName.get(name).filter(_.nonEmpty).map(ss => Stats.median(ss.map(f)))
        .getOrElse(0.0)
    byName.toSeq.sortBy(_._1).foreach { case (name, ss) =>
      println(s"""{"span":"$name","n":${ss.size},""" +
        s""""wall_s":${Json.num(Stats.median(ss.map(_.wallS)))},""" +
        s""""stage_busy_s":${Json.num(Stats.median(ss.map(s =>
          math.max(0.0, s.wallS - s.driverGapS))))},""" +
        s""""driver_gap_s":${Json.num(Stats.median(ss.map(_.driverGapS)))},""" +
        s""""child_s":${Json.num(Stats.median(ss.map(_.childWallS)))},""" +
        s""""self_s":${Json.num(Stats.median(ss.map(_.selfS)))}}""")
    }
    val counters = for {
      sp <- Trace.SpanNames
      c <- Trace.Counters
    } yield (s"$sp.$c", med(sp)(Trace.counter(_, c)), Trace.unit(c))
    val storeBytes = res.getOrElse("vectors_mb", 0.0)
    val ratios = Seq(
      ("Server.update.rows_read_per_row_written",
        med("Server.update")(s =>
          if (s.outputRecords > 0) s.inputRecords.toDouble / s.outputRecords
          else 0.0), "ratio"),
      ("Streams.overhead_s", med("Streams.microbatch")(_.selfS), "s"),
      ("UnifiedClusters.update.drop_ratio", res.getOrElse("drop_ratio", 0.0),
        "ratio"),
      ("UnifiedClusters.store.files_per_bucket",
        res.getOrElse("files_per_bucket", 0.0), "count"),
      ("Similarity.store.files_per_cell", res.getOrElse("files_per_cell", 0.0),
        "count"),
      ("Similarity.probe.input_share", med("Similarity.probe")(s =>
        if (storeBytes > 0) s.inputBytes / (storeBytes * 1024 * 1024) else 0.0),
        "ratio"))
    val spill = Workloads.map { w =>
      (s"$w.spill_mb",
        if (w == listedAs(workload)) spans.map(_.spillBytes).sum / (1024.0 * 1024.0)
        else 0.0, "MB")
    }
    val overhead = res.getOrElse("trace_overhead_s", Double.NaN)
    println(s"""{"tracing_overhead_s":${Json.num(overhead)}}""")
    val out = counters ++ ratios ++ spill :+ (("trace.overhead_s", overhead, "s"))
    require(out.map(_._1) == PerLayerNames, "per-layer names out of sync")
    out
  }
}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  }
}
