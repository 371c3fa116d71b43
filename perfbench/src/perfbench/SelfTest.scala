package perfbench

/** The benchmark's own tests (run with `python3 perfbench/run.py
  * --self-test`): generator determinism, the tail rule, the driver-gap
  * interval union, and metric names against BENCHMARK.json. */
object SelfTest {

  private var failures = 0
  private def check(what: String)(ok: => Boolean): Unit =
    if (!ok) { failures += 1; println(s"FAIL $what") }
    else println(s"ok   $what")

  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse(".")

    // generators: same seed -> same bytes, other seed -> other bytes
    def ci(seed: Long) = Gen.digest(Gen.ciBytes(Gen.CiShape(seed), 3))
    def cur(seed: Long) = Gen.digest(Gen.corpusBytes(Gen.CorpusShape(seed), 60))
    def vec(seed: Long) = Gen.digest(Gen.vecBytes(Gen.VecShape(seed), 200))
    Seq(("ci_nightly", ci _), ("curation_stream", cur _),
        ("ann_serve", vec _)).foreach { case (w, f) =>
      check(s"$w generator: same seed, same bytes")(f(7) == f(7))
      check(s"$w generator: other seed, other bytes")(f(7) != f(8))
    }
    val sh = Gen.CorpusShape(7)
    check("curation corpus plants every family")(
      (1L until 400).map(sh.plantedFamily).filter(_ >= 0).toSet ==
        Set(0, 1, 2, 3))

    // tail: highest percentile with >= 10 samples beyond it
    val xs = (1 to 100).map(_.toDouble)
    check("tail of 100 samples is p90 with 10 beyond")(
      Stats.tail(xs) == Stats.Tail(90.0, 90, 100, tenBeyond = true))
    check("tail of 20 samples is p50")(
      Stats.tail(xs.take(20)) == Stats.Tail(10.0, 50, 20, tenBeyond = true))
    check("tail of 11 samples leaves exactly 10 beyond")(
      Stats.tail(xs.take(11)).value == 1.0 &&
        Stats.tail(xs.take(11)).tenBeyond)
    check("tail of 10 samples falls back to the maximum")(
      Stats.tail(xs.take(10)) == Stats.Tail(10.0, 100, 10, tenBeyond = false))
    check("tail is order-independent")(
      Stats.tail(xs.reverse) == Stats.tail(xs))

    // driver gap: span wall minus the union of overlapping stage intervals
    check("driver gap with overlapping and clipped stages")(
      Stats.driverGap(0, 100, Seq((10, 30), (20, 40), (50, 60), (90, 120),
        (-5, 2))) == 100 - (30 + 10 + 10 + 2))
    check("driver gap without stages is the wall")(
      Stats.driverGap(0, 100, Nil) == 100)
    check("driver gap with nested stages")(
      Stats.driverGap(0, 100, Seq((10, 90), (20, 30), (40, 95))) == 15)
    check("driver gap of a fully covered span is zero")(
      Stats.driverGap(10, 20, Seq((0, 15), (15, 30))) == 0)

    // every emitted name is well-formed, and BENCHMARK.json lists them all
    val names = Main.EndToEnd.map(_._1) ++ Main.PerLayerNames
    check("every metric name matches [A-Za-z0-9_.-]+ and has <= 64 chars")(
      names.forall(n => n.matches(Stats.NamePattern) && n.length <= 64 &&
        n.head.isLetterOrDigit))
    check("metric names are unique")(names.distinct.size == names.size)
    val bench = new java.io.File(root, "BENCHMARK.json")
    if (bench.isFile) {
      val text = new String(java.nio.file.Files.readAllBytes(bench.toPath),
        "UTF-8")
      val listed = "\"name\"\\s*:\\s*\"([^\"]+)\"".r
        .findAllMatchIn(text).map(_.group(1)).toSet
      check("BENCHMARK.json lists exactly the emitted metrics")(
        listed -- Main.Workloads == names.toSet)
      check("BENCHMARK.json workloads are ones the benchmark runs")(
        (listed & Main.Workloads.toSet).size >= 2)
    }

    println(if (failures == 0) "self-test passed" else s"$failures failed")
    if (failures > 0) sys.exit(1)
  }
}
