package perfbench

import graft.streaming.ConnectJsonCodec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Minimal JSON rendering: values arrive already rendered. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}

/** Turns samples, counters and spans into the metrics the result line
  * carries, and writes the trace artifact.
  */
object Report {
  type Metrics = Seq[(String, (Double, String))]

  private def vmHwmMb(): Double =
    Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Heap still in use after full collections: what the run keeps in
    * memory. Unlike peak RSS it does not follow when the collector chose
    * to grow the heap. Listener events still queued are delivered first,
    * so a busy host's backlog does not count. A collection only queues the
    * weak references that Spark's ContextCleaner frees broadcast and
    * shuffle state from, so a reading right after it can still count
    * state a moment from being freed; each round gives the cleaner time,
    * collects and reads, and the smallest reading is kept. Returns every
    * reading, smallest first.
    */
  def retainedHeapMb(spark: SparkSession, rounds: Int = 3): Seq[Double] = {
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc()
    (1 to rounds).map { _ =>
      Thread.sleep(100)
      System.gc()
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.sorted
  }

  /** End-to-end metrics of an untraced run. The wall is the mean unit (a
    * backfill rep, or a trickle batch with its produce): passes keep
    * speeding up as the JIT warms, and the mean of the units varies less
    * between runs than their median. It is per unit, not the whole loop,
    * so it does not follow how many units a run's time fits.
    */
  def endToEnd(run: Run, startupS: Double): Metrics = {
    val lat = run.units.map(_.latencyS)
    val walls = if (run.backfill) lat else run.units.map(_.wallS)
    val wall = walls.sum / walls.size
    val records = run.units.map(_.records).sum.toDouble / run.units.size
    Seq(
      "setup_s" -> (startupS + Stats.median(run.setupS), "s"),
      "wall_s" -> (wall, "s"),
      "records_per_s" -> (records / wall, "records/s"),
      "batch_latency_p50_s" -> (Stats.percentile(lat, 50), "s"),
      "batch_latency_p80_s" -> (Stats.percentile(lat, 80), "s"),
      "retained_heap_mb" -> (run.retainedHeapMb.head, "MB"))
  }

  def beyondP80(run: Run): Int = {
    val lat = run.units.filterNot(_.traced).map(_.latencyS)
    if (lat.isEmpty) 0 else Stats.beyond(lat, 80)
  }

  // ---------------------------------------------------------- counters

  private def dirStats(dir: Path, suffix: String): (Double, Double) =
    if (!Files.isDirectory(dir)) (0.0, 0.0)
    else {
      val s = Files.list(dir)
      try {
        val fs = s.iterator().asScala.filter(_.getFileName.toString.endsWith(suffix)).toSeq
        (fs.size.toDouble, fs.map(Files.size(_).toDouble).sum)
      } finally s.close()
    }

  /** Layer counters of a workflow that can be read without running the
    * library: pool directories, pool counters, bus wrapper counters.
    */
  def snapshot(wf: Workflow): Map[String, Double] = {
    val lake = java.nio.file.Paths.get(wf.lakeDir)
    val pools = Seq("Raw", "Staging")
    val commits = pools.map(p => dirStats(lake.resolve(p).resolve("_commits"), ".txt")._1).sum
    val data = pools.map(p => dirStats(lake.resolve(p).resolve("data"), ".parquet"))
    val b = wf.tracingBus
    Map(
      "pool.commits" -> commits,
      "pool.files_written" -> data.map(_._1).sum,
      "pool.bytes_written" -> data.map(_._2).sum,
      "pool.manifest_listings" -> wf.pools.map(_.manifestListings.get.toDouble).sum,
      "pool.data_reads" -> wf.pools.map(_.dataReads.get.toDouble).sum,
      "bus.read_calls" -> b.map(_.readCalls.toDouble).getOrElse(0.0),
      "bus.read_records" -> b.map(_.readRecords.toDouble).getOrElse(0.0),
      "bus.write_calls" -> b.map(_.writeCalls.toDouble).getOrElse(0.0),
      "bus.write_records" -> b.map(_.writeRecords.toDouble).getOrElse(0.0),
      "bus.end_offsets_calls" -> b.map(_.endOffsetsCalls.toDouble).getOrElse(0.0),
      "etl.done_records" -> doneRecords(wf)) ++ wf.records
  }

  private def doneRecords(wf: Workflow): Double = {
    val st = graft.lake.Pool.open(wf.raw.spark, wf.lakeDir, "Staging")
    val df = st.read()
    if (!df.columns.contains("_type")) 0.0
    else df.filter(col("_type") === "done").count().toDouble
  }

  /** Counter deltas over one traced unit. */
  def unitLayer(wf: Workflow, before: Map[String, Double]): Map[String, Double] = {
    val after = snapshot(wf)
    wf.pipelines.clear()
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
  }

  // ------------------------------------------------------------- spans

  private val Layers = Seq("from_kafka", "etl", "to_kafka")

  /** Per-layer metrics of a traced run, per traced unit (averaged). */
  def perLayer(spark: SparkSession, tracer: Tracer, run: Run): Metrics = {
    val traced = run.units.filter(_.traced)
    val n = traced.size.toDouble
    val byId = tracer.spans.map(s => s.id -> s).toMap
    val self = tracer.roots.toSeq.flatMap(r => Spans.selfTimes(tracer.spans.toSeq, r))
      .groupMapReduce(_._1)(_._2)(_ + _).map { case (k, v) => k -> v / 1e9 / n }
    def selfS(cat: String): Double = self.getOrElse(cat, 0.0)
    val tracedWall = tracer.roots.map(r => byId(r).durationNs / 1e9).sum / n
    def layerOf(s: Span): Option[String] =
      if (Layers.contains(s.name)) Some(s.name)
      else byId.get(s.parent).flatMap(layerOf)
    val jobSpans = tracer.spans.filter(_.name.startsWith("job "))
    val jobLayer: Map[Int, String] = jobSpans.flatMap(j =>
      layerOf(j).map(j.tags("job").toInt -> _)).toMap
    val stagesBy = tracer.stages.values.groupBy(s => jobLayer.getOrElse(s.jobId, ""))
    def stageSum(layer: String)(f: Tracer.StageRec => Double): Double =
      stagesBy.getOrElse(layer, Nil).map(f).sum / n
    val allStages = tracer.stages.values
    def spanSum(name: String): Double =
      tracer.spans.filter(_.name == name).map(_.durationNs / 1e9).sum / n
    val counter = traced.flatMap(_.layer).groupMapReduce(_._1)(_._2)(_ + _)
      .map { case (k, v) => k -> v / n }
    def c(k: String): Double = counter.getOrElse(k, 0.0)
    val planS = tracer.queries.filter { q =>
      Spans.innermost(tracer.spans.filter(s => Layers.contains(s.name)).toSeq, q.atMs * 1000000L)
        .exists(_.name == "etl")
    }.map(_.planMs / 1000.0).sum / n
    val fromRecords = c("from_kafka.records")
    val toRecords = c("to_kafka.records")
    val toWrites = tracer.spans.count(s => s.name == "bus.write" &&
      layerOf(s).contains("to_kafka")) / n
    val cores = spark.sparkContext.defaultParallelism.toDouble
    val untracedWall = run.units.filterNot(_.traced).map(_.wallS)
    val (decodeRps, encodeRps) = codecRates(spark, run.workflows.head)
    val layerSum = self.filter(_._1 != Spans.Unattributed).values.sum
    def layerMetrics(l: String): Metrics = Seq(
      s"$l.s" -> (spanSum(l), "s"),
      s"$l.jobs" -> (jobSpans.count(j => layerOf(j).contains(l)) / n, "count"),
      s"$l.job_s" -> (selfS(s"$l.job"), "s"),
      s"$l.driver_s" -> (selfS(s"$l.driver"), "s"))
    Seq(
      "bus.read_s" -> (selfS("bus.read"), "s"),
      "bus.read_calls" -> (c("bus.read_calls"), "count"),
      "bus.read_records" -> (c("bus.read_records"), "records"),
      "bus.write_s" -> (selfS("bus.write"), "s"),
      "bus.write_calls" -> (c("bus.write_calls"), "count"),
      "bus.write_records" -> (c("bus.write_records"), "records"),
      "bus.end_offsets_calls" -> (c("bus.end_offsets_calls"), "count")) ++
    layerMetrics("from_kafka") ++ Seq(
      "from_kafka.records" -> (fromRecords, "records"),
      "from_kafka.lag_records" -> (traced.map(_.lag.toDouble).sum / n, "records"),
      "codec.decode_rps" -> (decodeRps, "records/s"),
      "codec.encode_rps" -> (encodeRps, "records/s"),
      "pool.job_s" -> (selfS("pool.job"), "s"),
      "pool.commits" -> (c("pool.commits"), "count"),
      "pool.files_written" -> (c("pool.files_written"), "count"),
      "pool.bytes_written" -> (c("pool.bytes_written"), "bytes"),
      "pool.manifest_listings" -> (c("pool.manifest_listings"), "count"),
      "pool.data_reads" -> (c("pool.data_reads"), "count")) ++
    layerMetrics("etl") ++ Seq(
      "etl.plan_s" -> (planS, "s"),
      "etl.stages" -> (stageSum("etl")(_.completed.toDouble), "count"),
      "etl.tasks" -> (stageSum("etl")(_.tasks.toDouble), "count"),
      "etl.records_read" -> (stageSum("etl")(_.recordsRead.toDouble), "records"),
      "etl.records_out" -> (c("etl.records_out"), "records"),
      "etl.done_records" -> (c("etl.done_records"), "records"),
      "etl.read_amplification" -> (
        if (fromRecords > 0) stageSum("etl")(_.recordsRead.toDouble) / fromRecords else 0.0, "ratio"),
      "etl.shuffle_bytes" -> (stageSum("etl")(_.shuffleWriteBytes.toDouble), "bytes"),
      "etl.spill_bytes" -> (stageSum("etl")(_.spillBytes.toDouble), "bytes")) ++
    layerMetrics("to_kafka") ++ Seq(
      "to_kafka.records" -> (toRecords, "records"),
      "to_kafka.bus_writes" -> (toWrites, "count"),
      "to_kafka.records_per_write" -> (if (toWrites > 0) toRecords / toWrites else 0.0, "records"),
      "spark.jobs" -> (jobSpans.size / n, "count"),
      "spark.tasks" -> (allStages.map(_.tasks.toDouble).sum / n, "count"),
      "spark.gc_s" -> (allStages.map(_.gcMs / 1000.0).sum / n, "s"),
      "spark.core_busy_frac" -> (
        allStages.map(_.runMs / 1000.0).sum / n / (tracedWall * cores), "ratio"),
      "peak_rss_mb" -> (vmHwmMb(), "MB"),
      "trace.wall_s" -> (tracedWall, "s"),
      "trace.untraced_wall_s" -> (Stats.median(untracedWall), "s"),
      "trace.overhead_frac" -> (
        Stats.median(traced.map(_.wallS)) / Stats.median(untracedWall) - 1.0, "ratio"),
      "trace.layer_cover_frac" -> (layerSum / tracedWall, "ratio"),
      "trace.units" -> (n, "count"))
  }

  /** Decode and encode rates of the workload's own codecs, each
    * materialised alone over the workload's input bus records (warm-up,
    * then the median of three timed counts).
    */
  private def codecRates(spark: SparkSession, wf: Workflow): (Double, Double) = {
    val recs = wf.fileBus.readBatch(spark, Generator.Topics, Map.empty)
      .select("value").cache()
    val n = recs.count().toDouble
    val decoded = recs.select(wf.valueCodec.decode(col("value")).as("v")).cache()
    decoded.count()
    val out = new ConnectJsonCodec(Generator.valueSchema)
    def rate(df: => org.apache.spark.sql.DataFrame): Double = {
      df.count()
      n / Stats.median((1 to 3).map { _ =>
        val t = System.nanoTime(); df.count(); (System.nanoTime() - t) / 1e9
      })
    }
    val r = (
      rate(recs.select(wf.valueCodec.decode(col("value")).as("v")).filter(col("v").isNotNull)),
      rate(decoded.select(out.encode(col("v")).as("m")).filter(length(col("m")) > 0)))
    decoded.unpersist(); recs.unpersist()
    r
  }

  /** The trace artifact must nest, and the layers' self times must cover
    * at least 90% of the traced wall.
    */
  def traceChecks(tracer: Tracer): Seq[Checks.Result] = {
    val spans = tracer.spans.toSeq
    val errors = tracer.roots.toSeq.flatMap(r =>
      Spans.nestingErrors(spans.filter(_.unit == spans.find(_.id == r).get.unit), r, 2000000L))
    val wall = tracer.roots.map(r => spans.find(_.id == r).get.durationNs).sum.toDouble
    val layers = tracer.roots.toSeq.flatMap(r => Spans.selfTimes(spans, r))
      .filter(_._1 != Spans.Unattributed).map(_._2).sum.toDouble
    Seq(
      Checks.Result("trace_spans_nest", errors.isEmpty && tracer.roots.nonEmpty,
        errors.take(3).mkString("; ")),
      Checks.Result("trace_layers_cover_wall", layers >= 0.9 * wall && layers <= wall,
        f"layer self times ${layers / 1e9}%.3f s of traced wall ${wall / 1e9}%.3f s"))
  }

  def writeTrace(tracer: Tracer, work: Path, workload: String, seed: Long): Path = {
    val f = work.resolve(s"trace-$workload-$seed.json")
    val lines = tracer.spans.sortBy(s => (s.unit, s.startNs, s.id)).map { s =>
      Json.obj("id" -> s.id.toString, "parent" -> s.parent.toString,
        "unit" -> s.unit.toString, "name" -> Json.str(s.name),
        "category" -> Json.str(s.category), "start_ns" -> s.startNs.toString,
        "end_ns" -> s.endNs.toString,
        "tags" -> Json.obj(s.tags.toSeq.map { case (k, v) => k -> Json.str(v) }: _*))
    }
    Files.write(f, lines.mkString("{\"spans\":[\n", ",\n", "\n]}\n").getBytes("UTF-8"))
    f
  }

  def environment(spark: SparkSession): String = Json.obj(
    "nproc" -> Runtime.getRuntime.availableProcessors().toString,
    "master" -> Json.str(spark.sparkContext.master),
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
    "max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
    "input_codec" -> Json.str("connect-json"),
    "output_codec" -> Json.str("connect-json"),
    "bus" -> Json.str("FileBus"),
    "max_records_per_commit" -> (1L << 20).toString,
    "to_kafka_batch_size" -> "200",
    "spark" -> Json.str(spark.version))

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally s.close()
    }
}
