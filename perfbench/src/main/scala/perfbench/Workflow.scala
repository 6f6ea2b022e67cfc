package perfbench

import graft.etl.{Pipeline, Transform}
import graft.lake.Pool
import graft.streaming._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** A `Bus` that forwards every call to a [[FileBus]] and times it as a
  * span, counting calls and records while tracing is on.
  */
final class TracingBus(delegate: FileBus, root: Path, tracer: Tracer) extends Bus {
  var readCalls, readRecords, writeCalls, writeRecords, endOffsetsCalls = 0L

  override def readBatch(spark: SparkSession, topics: Seq[String],
      startOffsets: Map[String, Long]): DataFrame = {
    val df = tracer.span("bus.readBatch", "bus.read")(
      delegate.readBatch(spark, topics, startOffsets))
    if (tracer.enabled) {
      readCalls += 1
      // counting the records read means listing the topics again: that
      // cost is the tracer's, not the caller's
      readRecords += tracer.span("trace.count", Spans.Unattributed)(
        topics.map(t => Workflow.recordsFrom(root.resolve(t), startOffsets.getOrElse(t, 0L))).sum)
    }
    df
  }

  override def write(df: DataFrame): Map[String, Long] = {
    val counts = tracer.span("bus.write", "bus.write")(delegate.write(df))
    if (tracer.enabled) { writeCalls += 1; writeRecords += counts.values.sum }
    counts
  }

  override def endOffsets(spark: SparkSession, topics: Seq[String]): Map[String, Long] = {
    if (tracer.enabled) endOffsetsCalls += 1
    tracer.span("bus.endOffsets", "bus.read")(delegate.endOffsets(spark, topics))
  }
}

/** One lake plus bus in its own directory, driven through the library's
  * public entry points the way the CLI drives them: `FromKafka.syncOnce`
  * over the five input topics into pool `Raw`, a `new Pipeline(...).run()`
  * into `Staging`, and `ToKafka.syncOnce` for each out topic with
  * Connect-JSON codecs built from the Staging schema.
  */
final class Workflow(spark: SparkSession, val dir: Path, tracer: Tracer, traceBus: Boolean) {
  val busDir: Path = dir.resolve("bus")
  val lakeDir: String = dir.resolve("lake").toString
  val fileBus = new FileBus(busDir.toString)
  val tracingBus: Option[TracingBus] =
    if (traceBus) Some(new TracingBus(fileBus, busDir, tracer)) else None
  val bus: Bus = tracingBus.getOrElse(fileBus)
  val raw: Pool = Pool.create(spark, lakeDir, "Raw")
  val staging: Pool = Pool.create(spark, lakeDir, "Staging")
  val transform: Transform = Transform.fromYaml(Workflow.TransformYaml)

  /** Input codecs, as the CLI builds them for Connect-JSON topics. */
  val keyCodec = new ConnectJsonCodec(Generator.keySchema)
  val valueCodec = new ConnectJsonCodec(Generator.valueSchema)

  /** Records each layer call reported, summed over passes. */
  val records = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)

  /** Pipelines built by traced passes, for their pool counters. */
  val pipelines = scala.collection.mutable.ArrayBuffer.empty[Pipeline]

  /** One sync pass: from-kafka, ETL, then to-kafka for each out topic. */
  def pass(): Unit = {
    val fk = tracer.span("from_kafka", "from_kafka.driver")(
      new FromKafka(bus, keyCodec, valueCodec).syncOnce(spark, Generator.Topics, raw))
    val etl = tracer.span("etl", "etl.driver") {
      val p = new Pipeline(spark, transform, lakeDir)
      if (tracer.enabled) pipelines += p
      p.run()
    }
    val tk = Workflow.OutTopics.map { topic =>
      tracer.span("to_kafka", "to_kafka.driver", Map("topic" -> topic)) {
        if (staging.isEmpty) 0L
        else {
          val schema = staging.read().schema
          def structOf(name: String): StructType =
            schema.find(_.name == name).map(_.dataType.asInstanceOf[StructType])
              .getOrElse(new StructType())
          new ToKafka(bus, new ConnectJsonCodec(structOf("key")),
            new ConnectJsonCodec(structOf("value"))).syncOnce(spark, staging, topic)
        }
      }
    }.sum
    records("from_kafka.records") += fk
    records("etl.records_out") += etl
    records("to_kafka.records") += tk
  }

  /** Pools whose public counters this workflow can read. */
  def pools: Seq[Pool] = Seq(raw, staging) ++
    pipelines.flatMap(p => p.inputPool +: p.outputPools.values.toSeq)
}

object Workflow {
  val OutTopics: Seq[String] = Seq("Activity", "Enriched")

  /** The transform, in the style of the etl-demo: a stateless rule on
    * `view` and a denorm rule joining each purchase to the signup whose
    * bus offset it references. `click` and `error` stay unconsumed in Raw.
    */
  val TransformYaml: String =
    """inputs:
      |  - topic: view
      |    pool: Raw
      |  - topic: purchase
      |    pool: Raw
      |  - topic: signup
      |    pool: Raw
      |output:
      |  topic: Activity
      |  pool: Staging
      |transforms:
      |  - type: stateless
      |    in: view
      |    out: Activity
      |    zed: |
      |      | out:={
      |          key: in.key,
      |          value: { user: in.key.user, v: in.value.v, k: in.value.k }
      |        }
      |  - type: denorm
      |    left: purchase
      |    right: signup
      |    join-on: left.value.ref=right.kafka.offset
      |    out: Enriched
      |    zed: |
      |      | out:={
      |          key: left.key,
      |          value: {
      |            user: left.key.user,
      |            amount: left.value.v,
      |            k: left.value.k,
      |            signup_user: right.key.user,
      |            signup_offset: right.kafka.offset
      |          }
      |        }
      |""".stripMargin

  /** Copy a directory tree as hard links (a bus seeded once and reused by
    * every rep).
    */
  def linkTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.createLink(q, p)
    } finally s.close()
  }

  /** Records of a FileBus topic directory at offsets >= `from`. */
  def recordsFrom(topicDir: Path, from: Long): Long =
    if (!Files.isDirectory(topicDir)) 0L
    else {
      val s = Files.list(topicDir)
      try s.iterator().asScala.count { p =>
        val n = p.getFileName.toString
        n.endsWith(".rec") && n.stripSuffix(".rec").toLong >= from
      }.toLong finally s.close()
    }
}
