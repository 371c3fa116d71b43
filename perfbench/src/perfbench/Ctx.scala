package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** State of one benchmark run: the session, the clock, the op samples,
  * failures, and (in a traced run) the span recorder. Samples, failures
  * and phase marks are recorded under the object's lock, so that the
  * run's watchdog (see [[Main]]) can report them while an op still runs.
  *
  * In a traced run the listeners stay attached from the start, and every
  * timed op runs inside its span; only [[overhead]] detaches them. */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
    val seconds: Int, val trace: Option[Trace]) {

  private val t0 = System.nanoTime()
  def elapsed: Double = (System.nanoTime() - t0) / 1e9

  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val untracedSamples =
    mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  /** Seconds from the start of the run to the start of its first timed
    * op: the part of the set-up that follows the session's creation. */
  var firstOpS = Double.NaN
  private var inFlight = Option.empty[String]
  private var round = 0
  @volatile private var tracing = trace.nonEmpty
  trace.foreach(_.attach(spark))

  /** Facts about the inputs and the run, printed with the results. */
  val info = mutable.LinkedHashMap.empty[String, Any]

  private var asideS = 0.0

  /** Benchmark work between ops (landing inputs, checks): its time is
    * left out of the loop's wall, which the throughput metrics divide
    * by. Checks passed to [[op]] count as aside on their own. */
  def aside[A](body: => A): A = {
    val t = System.nanoTime()
    try body finally synchronized { asideS += elapsedSince(t) }
  }

  /** Loop rounds, at least one, while the measuring window is open.
    * Returns the loop's wall time minus the time spent aside. */
  def loop(body: Int => Unit): Double = {
    val start = System.nanoTime()
    val aside0 = asideS
    while (round == 0 || elapsedSince(start) < seconds) {
      body(round)
      round += 1
    }
    elapsedSince(start) - (asideS - aside0)
  }

  /** Tracing overhead, in a traced run: `reps` traced and `reps`
    * untraced repeats of one op, alternating, each half with its own
    * median; returns traced minus untraced. The traced repeats are
    * spans of their own (`trace.overhead_<name>`), so they add no
    * samples to the per-layer medians of the loop's ops. */
  def overhead(name: String, reps: Int)(body: => Any): Double = {
    if (trace.isEmpty) return Double.NaN
    (0 until 2 * reps).foreach { i =>
      tracing = i % 2 == 0
      if (tracing) trace.get.attach(spark) else trace.get.detach()
      op(s"overhead_$name", s"trace.overhead_$name")(body)()
    }
    tracing = false
    trace.get.detach()
    val t = samples.get(s"overhead_$name").map(_.toSeq).getOrElse(Nil)
    val u = untracedSamples.get(s"overhead_$name").map(_.toSeq).getOrElse(Nil)
    if (t.isEmpty || u.isEmpty) Double.NaN
    else Stats.median(t) - Stats.median(u)
  }

  private def elapsedSince(ns: Long) = (System.nanoTime() - ns) / 1e9

  def traced: Boolean = tracing

  /** Time one op from outside. `check` validates its result; an op that
    * throws or fails its check counts as attempted and failed, and its
    * time is not recorded as a sample. A warm-up op (`timed = false`) is
    * checked the same way but records no sample and no span: it is part
    * of the set-up. */
  def op[A](name: String, span: String, timed: Boolean = true)(body: => A)(
      check: A => Option[String] = (_: A) => None): Option[A] = {
    synchronized {
      attempted += 1
      if (timed && firstOpS.isNaN) firstOpS = elapsed
      inFlight = Some(name)
    }
    val tr = if (tracing && timed) trace else None
    val start = System.nanoTime()
    val res =
      try Right(tr.fold(body)(_.span(span)(body)))
      catch { case t: Throwable => Left(describe(t)) }
    val wall = (System.nanoTime() - start) / 1e9
    aside(res.flatMap(a => check(a).toLeft(a))) match {
      case Right(a) =>
        synchronized {
          inFlight = None
          val into = if (trace.nonEmpty && !tracing) untracedSamples
            else samples
          if (timed) into.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
            wall
        }
        Some(a)
      case Left(err) =>
        synchronized {
          inFlight = None
          failed += 1
          errors += s"$name: $err"
        }
        System.err.println(s"[perfbench] $name FAILED: $err")
        None
    }
  }

  /** Note when a phase of the run ends, in seconds since the run began. */
  def mark(phase: String): Unit = synchronized {
    info(s"t_$phase") = math.round(elapsed * 10) / 10.0
  }

  /** Record a failed check that belongs to no single op. */
  def fail(what: String): Unit = {
    synchronized {
      attempted += 1
      failed += 1
      errors += what
    }
    System.err.println(s"[perfbench] check FAILED: $what")
  }

  /** The run overran its deadline: the op in flight fails, or, between
    * ops, the run itself. */
  def overran(what: String): Unit = synchronized {
    inFlight match {
      case Some(name) =>
        failed += 1
        errors += s"$name: $what"
      case None =>
        attempted += 1
        failed += 1
        errors += what
    }
    System.err.println(s"[perfbench] $what")
  }

  /** Samples of `name` across the whole run (traced and untraced). */
  def all(name: String): Seq[Double] =
    samples.getOrElse(name, Nil).toSeq ++
      untracedSamples.getOrElse(name, Nil).toSeq

  private def describe(t: Throwable): String = {
    val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}" +
      (if (root ne t) s" (cause ${root.getClass.getSimpleName}: " +
        s"${String.valueOf(root.getMessage).take(200)})" else "")
  }
}

object Ctx {
  /** Total bytes of regular files under `dir`, in MB. */
  def dirMb(dir: String): Double = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else f.length()
    walk(new java.io.File(dir)) / (1024.0 * 1024.0)
  }

  /** Mean count of data files per `col=` partition directory. */
  def filesPerPartition(table: String): Double = {
    val parts = Option(new java.io.File(table).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.contains("="))
    if (parts.isEmpty) 0.0
    else parts.map(p => Option(p.listFiles()).toSeq.flatten
      .count(f => f.isFile && f.getName.endsWith(".parquet"))).sum.toDouble /
      parts.length
  }
}
