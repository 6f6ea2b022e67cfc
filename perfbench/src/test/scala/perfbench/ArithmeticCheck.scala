package perfbench

/** Checks of the benchmark's own arithmetic: percentiles and their sample
  * counts, span self time, nesting, and call-site attribution. Run with
  * `python3 perfbench/run.py --selftest`; exits non-zero on a failure.
  */
object ArithmeticCheck {
  private var failures = 0

  private def eq(name: String, got: Any, want: Any): Unit =
    if (got == want) println(s"ok   $name")
    else { failures += 1; println(s"FAIL $name: got $got, want $want") }

  private def near(name: String, got: Double, want: Double): Unit =
    eq(name, math.abs(got - want) < 1e-9, true)

  def main(args: Array[String]): Unit = {
    // percentiles: linear interpolation between closest ranks, the same as
    // Python's statistics.quantiles(method="inclusive")
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    near("median of 5", Stats.median(xs), 3.0)
    near("p80 of 5", Stats.percentile(xs, 80), 4.2)
    near("p0 and p100 are min and max",
      Stats.percentile(xs, 0) + Stats.percentile(xs, 100), 6.0)
    near("median of 2 is the mean", Stats.median(Seq(1.0, 2.0)), 1.5)
    near("one sample", Stats.percentile(Seq(7.0), 80), 7.0)
    eq("samples beyond p80 of 5", Stats.beyond(xs, 80), 1)
    eq("samples beyond p80 of 50", Stats.beyond((1 to 50).map(_.toDouble), 80), 10)
    eq("samples beyond p50 of 4", Stats.beyond(Seq(1.0, 2.0, 3.0, 4.0), 50), 2)

    // self time: a span's duration minus what its children cover
    val root = Span(0, -1, "unit", Spans.Unattributed, 1, 0, 100)
    val etl = Span(1, 0, "etl", "etl.driver", 1, 10, 60)
    val job1 = Span(2, 1, "job 1", "etl.job", 1, 20, 40)
    val job2 = Span(3, 1, "job 2", "pool.job", 1, 30, 50, priority = 1)
    val bus = Span(4, 0, "bus.write", "bus.write", 1, 70, 90)
    val self = Spans.selfTimes(Seq(root, etl, job1, job2, bus), 0)
    eq("etl self time excludes both jobs", self("etl.driver"), 20L)
    eq("overlap goes to the higher-priority pool job", self("pool.job"), 20L)
    eq("etl job keeps only its own part", self("etl.job"), 10L)
    eq("bus self time", self("bus.write"), 20L)
    eq("root keeps the uncovered rest", self(Spans.Unattributed), 30L)
    eq("self times sum to the root's duration", self.values.sum, 100L)
    val sticking = Span(5, 1, "job 3", "etl.job", 1, 55, 65)
    eq("a child is clipped to its parent",
      Spans.selfTimes(Seq(root, etl, sticking), 0).get("etl.job"), Some(5L))

    // nesting
    eq("a clean tree nests", Spans.nestingErrors(Seq(root, etl, job1, bus), 0, 0).size, 0)
    eq("a child outside its parent is an error",
      Spans.nestingErrors(Seq(root, etl, sticking), 0, 2).size, 1)
    eq("slack forgives millisecond rounding",
      Spans.nestingErrors(Seq(root, etl, sticking), 0, 5).size, 0)
    eq("a missing parent is an error",
      Spans.nestingErrors(Seq(root, Span(9, 7, "x", "x", 1, 1, 2)), 0, 0).size, 1)
    eq("innermost call containing an instant",
      Spans.innermost(Seq(root, etl, bus), 35).map(_.name), Some("etl"))

    // call-site attribution
    eq("call-site file", Spans.callSiteFile("collect at Pool.scala:263"), Some("Pool.scala"))
    eq("call site without a file", Spans.callSiteFile("run at ThreadPoolExecutor"), None)
    eq("pool job", Spans.jobCategory("count at Pool.scala:12", "etl.driver"), "pool.job")
    eq("job of a layer call", Spans.jobCategory("count at Pipeline.scala:243", "etl.driver"),
      "etl.job")
    eq("job inside a bus call", Spans.jobCategory("toLocalIterator at Bus.scala:250",
      "bus.write"), "bus.write")
    eq("job outside any layer", Spans.jobCategory("count at Checks.scala:1",
      Spans.Unattributed), Spans.Unattributed)

    if (failures > 0) { println(s"$failures failed"); sys.exit(1) }
    println("all arithmetic checks passed")
  }
}
