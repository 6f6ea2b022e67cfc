package perfbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import java.nio.file.{Path, Paths}
import scala.collection.mutable.ArrayBuffer

/** Connector workflow benchmark: one workload per JVM.
  *
  * {{{
  *   perfbench.Main --workload <backfill_json|trickle_json>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *     [--size full|smoke] [--launch-ms <epoch ms the JVM was launched>]
  * }}}
  *
  * Prints one info line (`PERFBENCH_INFO {...}`: seed, environment,
  * sample counts, checks, trace artifact) and then the result line
  * (`PERFBENCH_RESULT {...}`): end-to-end metrics with `--trace 0`,
  * per-layer metrics with `--trace 1`.
  */
object Main {
  final case class Size(backfill: Int, warmup: Int, history: Int, batch: Int)
  val Sizes: Map[String, Size] = Map(
    "full" -> Size(backfill = 15000, warmup = 1000, history = 2000, batch = 500),
    "smoke" -> Size(backfill = 100, warmup = 50, history = 50, batch = 10))

  /** One measured unit: its wall, the latency sample it yields, and for a
    * traced unit the layer counters read around it.
    */
  final case class Sample(wallS: Double, latencyS: Double, records: Long, traced: Boolean,
      lag: Long, layer: Map[String, Double])

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val size = Sizes(args.getOrElse("size", "full"))
    val work = Paths.get(args("work"))
    val launchMs = args.get("launch-ms").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    require(Seq("backfill_json", "trickle_json").contains(workload), s"unknown workload $workload")

    val spark = GraftSession.local()
    try {
      val startupS = (System.currentTimeMillis() - launchMs) / 1000.0
      val tracer = new Tracer(spark)
      val bench = new Bench(spark, tracer, work, seed, seconds, trace, size)
      val run = if (workload.startsWith("backfill")) bench.backfill() else bench.trickle()
      val checks = run.checks ++ (if (trace) Report.traceChecks(tracer) else Nil)
      val failed = run.passFailures + checks.count(!_.ok)
      val attempted = run.passes + checks.size
      val metrics =
        if (trace) Report.perLayer(spark, tracer, run)
        else Report.endToEnd(run, startupS)
      val traceFile = if (trace) Some(Report.writeTrace(tracer, work, workload, seed)) else None
      val info = Json.obj(
        "workload" -> Json.str(workload), "seed" -> seed.toString,
        "seconds" -> seconds.toString, "trace" -> trace.toString,
        "records_per_unit" -> run.units.headOption.map(_.records).getOrElse(0L).toString,
        "units" -> run.units.size.toString,
        "latency_samples" -> run.units.count(!_.traced).toString,
        "unit_wall_s" -> Json.arr(run.units.map(u => Json.num(u.wallS))),
        "unit_latency_s" -> Json.arr(run.units.map(u => Json.num(u.latencyS))),
        "check_s" -> Json.num(bench.checkS),
        "retained_heap_reads_mb" -> Json.arr(run.retainedHeapMb.map(Json.num)),
        "setup_parts_s" -> Json.arr((startupS +: run.setupS).map(Json.num)),
        "latency_samples_beyond_p80" -> Report.beyondP80(run).toString,
        "checks_passed" -> checks.count(_.ok).toString,
        "checks_failed" -> Json.arr(checks.filterNot(_.ok).map(c =>
          Json.obj("name" -> Json.str(c.name), "detail" -> Json.str(c.detail)))),
        "trace_file" -> traceFile.map(f => Json.str(f.toString)).getOrElse("null"),
        "env" -> Report.environment(spark))
      println("PERFBENCH_INFO " + info)
      println("PERFBENCH_RESULT " + Json.obj(
        "correct" -> (failed == 0).toString,
        "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "metrics" -> Json.obj(metrics.map { case (name, (v, unit)) =>
          name -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(unit))
        }: _*)))
    } finally spark.stop()
  }
}

/** What a workload run measured. */
final case class Run(backfill: Boolean, units: Seq[Main.Sample], setupS: Seq[Double],
    retainedHeapMb: Seq[Double], passes: Int, passFailures: Int, checks: Seq[Checks.Result],
    workflows: Seq[Workflow])

/** The workloads. A unit is what one sample measures: a whole backfill,
  * or one trickle batch (produce plus pass). A traced run mixes untraced
  * and traced units, so tracing overhead is measured in place.
  */
final class Bench(spark: SparkSession, tracer: Tracer, work: Path, seed: Long,
    seconds: Double, trace: Boolean, size: Main.Size) {

  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def lagOf(wf: Workflow): Long = tracer.span("trace.lag", Spans.Unattributed) {
    val end = wf.fileBus.endOffsets(Generator.Topics)
    val committed = graft.lake.Pool.open(spark, wf.lakeDir, "Raw").manifestOffsets()
      .getOrElse(Map.empty)
    end.map { case (t, e) => e - committed.get(t).map(_ + 1).getOrElse(0L) }.sum
  }

  /** One unit: `produce` (the load generator, timed in the unit's wall
    * but outside its latency and its trace), then one pass. A traced unit
    * also gets its layer counters (see [[Report.unitLayer]]).
    */
  private def measure(id: Int, traced: Boolean, wf: Workflow, records: Long)(
      produce: => Unit): Main.Sample = {
    val before = if (traced) Report.snapshot(wf) else Map.empty[String, Double]
    val t0 = System.nanoTime()
    produce
    lag = 0L
    val t1 = System.nanoTime()
    tracer.unit(id, traced)(pass(wf))
    val latency = since(t1)
    val wall = since(t0)
    val layer = if (traced) Report.unitLayer(wf, before) else Map.empty[String, Double]
    Main.Sample(wall, latency, records, traced, lag, layer)
  }

  /** Enough samples: `untraced` of them, or in a traced run three units in
    * the order untraced, traced, untraced, so that drift over the run
    * cancels out of the tracing overhead.
    */
  private def samples(units: collection.Seq[Main.Sample], untraced: Int): Boolean =
    units.size >= (if (trace) 3 else untraced)

  /** Whether the next unit is traced (see [[samples]]). */
  private def tracedNext(units: collection.Seq[Main.Sample]): Boolean =
    trace && units.size % 2 == 1

  private var passes, passFailures = 0
  var checkS = 0.0

  /** Heap readings (see [[Report.retainedHeapMb]]), taken between units
    * once the run has done `after` of them, so that every run reads the
    * heap after the same work however many units its time fits.
    */
  private var retained = Seq.empty[Double]
  private def readHeap(units: collection.Seq[Main.Sample], after: Int): Unit =
    if (units.size == after) retained = Report.retainedHeapMb(spark)

  /** Backlog at the start of the last traced pass. */
  private var lag = 0L
  private def pass(wf: Workflow): Unit = {
    if (tracer.enabled) lag = lagOf(wf)
    passes += 1
    try wf.pass() catch {
      case e: Exception =>
        passFailures += 1
        System.err.println(s"perfbench: pass failed: $e")
    }
  }

  /** Backfill: set-up runs a smaller, unmeasured backfill to warm the JVM
    * and Spark up, then puts all records on a template bus once; every rep
    * then starts from an empty lake and a hard-linked copy of that bus
    * (its own set-up) and runs one from-kafka, ETL and to-kafka pass
    * (measured). Reps repeat until `seconds` of measured time, and at
    * least two untraced reps; the last rep's outputs are checked.
    */
  def backfill(): Run = {
    val t0 = System.nanoTime()
    val warm = new Workflow(spark, work.resolve("warm-up"), tracer, traceBus = false)
    Generator.produce(spark, warm.fileBus,
      Generator.encode(new Generator.Stream(~seed).nextBatch(size.warmup, defer = false)))
    pass(warm)
    Report.deleteTree(warm.dir)
    val events = new Generator.Stream(seed).nextBatch(size.backfill, defer = false)
    val template = new Workflow(spark, work.resolve("template"), tracer, traceBus = false)
    Generator.produce(spark, template.fileBus, Generator.encode(events))
    val units = ArrayBuffer.empty[Main.Sample]
    val setups = ArrayBuffer.empty[Double]
    val flows = ArrayBuffer.empty[Workflow]
    val least = 2
    def enough = units.map(_.wallS).sum >= seconds && samples(units, untraced = least)
    def linked(rep: Int): Workflow = {
      val dir = work.resolve(s"rep-$rep")
      Workflow.linkTree(template.dir, dir)
      new Workflow(spark, dir, tracer, traceBus = trace)
    }
    val seeding = since(t0)
    var rep = 1
    var last: Workflow = null
    while (!enough) {
      val t1 = System.nanoTime()
      val wf = linked(rep)
      setups += since(t1)
      val traced = tracedNext(units)
      units += measure(rep, traced, wf, events.size)(())
      if (last != null && !flows.contains(last)) Report.deleteTree(last.dir)
      if (traced) flows += wf
      last = wf
      rep += 1
      readHeap(units, after = least)
    }
    // every rep runs the same input; the last one's outputs are checked
    val tc = System.nanoTime()
    val checks = Checks.run(spark, last, events)
    checkS += since(tc)
    Run(backfill = true, units.toSeq, setups.map(_ + seeding).toSeq, retained, passes,
      passFailures, checks, flows.toSeq)
  }

  /** Trickle: set-up pushes a history through one full pass, then one
    * more batch to warm the incremental path up; then a closed loop puts
    * one batch on the bus and runs one pass, the next batch only after
    * the pass returns, for `seconds` and at least three batches.
    */
  def trickle(): Run = {
    val t0 = System.nanoTime()
    val gen = new Generator.Stream(seed)
    val wf = new Workflow(spark, work.resolve("trickle"), tracer, traceBus = trace)
    val produced = ArrayBuffer.empty[Event]
    val history = gen.nextBatch(size.history, defer = true)
    Generator.produce(spark, wf.fileBus, Generator.encode(history))
    produced ++= history
    pass(wf)
    // one unmeasured batch warms the incremental path up
    val warm = gen.nextBatch(size.batch, defer = true)
    Generator.produce(spark, wf.fileBus, Generator.encode(warm))
    produced ++= warm
    pass(wf)
    val setup = since(t0)
    val units = ArrayBuffer.empty[Main.Sample]
    val loop0 = System.nanoTime()
    var i = 1
    val least = 3
    while (since(loop0) < seconds || !samples(units, untraced = least)) {
      val batch = gen.nextBatch(size.batch, defer = true)
      val rows = Generator.encode(batch)
      units += measure(i, tracedNext(units), wf, batch.size) {
        Generator.produce(spark, wf.fileBus, rows)
      }
      produced ++= batch
      i += 1
      readHeap(units, after = least)
    }
    val tc = System.nanoTime()
    val checks = Checks.run(spark, wf, produced.toSeq)
    checkS += since(tc)
    Run(backfill = false, units.toSeq, Seq(setup), retained, passes, passFailures, checks,
      Seq(wf))
  }
}
