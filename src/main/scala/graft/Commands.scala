package graft

import graft.etl.{Pipeline, Transform}
import graft.lake.Pool
import graft.streaming._
import graft.zson.Zson
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** The zync command surface (cmd/zync/...) as a library facade — everything a
  * user of the reference CLI does, callable on a SparkSession:
  *
  *   - produce:  file records → bus topic        (cmd/zync/produce)
  *   - consume:  bus topic → ZSON lines          (cmd/zync/consume)
  *   - fromKafka: topics → pools, incremental    (cmd/zync/from-kafka)
  *   - toKafka:  pool topic → bus, incremental   (cmd/zync/to-kafka)
  *   - etl:      YAML transform between pools    (cmd/zync/etl)
  *   - ls/info:  pool inventory                  (cmd/zync/{ls,info})
  */
object Commands {

  /** Read a JSON-lines, ZSON, or ZNG file and produce each record to
    * `topic` with the given codecs (key/value column expressions evaluated
    * per record) — `zync produce` accepts any Zed input format; we accept
    * Spark-readable JSON plus the reference's own ZSON text and ZNG binary.
    */
  def produce(spark: SparkSession, bus: Bus, topic: String, file: String,
      keyCodec: EnvelopeCodec, valueCodec: EnvelopeCodec,
      keyExpr: String = "null", valueExpr: String = "struct(*)"): Map[String, Long] =
    produceDF(bus, topic, readInput(spark, file), keyCodec, valueCodec,
      keyExpr, valueExpr)

  /** Input-format dispatch shared by the produce commands and the CLI's
    * schema sniffing — ONE place decides how a path parses, so every
    * caller agrees (a .zng file must never hit the JSON reader).
    */
  def readInput(spark: SparkSession, file: String): DataFrame =
    if (file.endsWith(".zson")) graft.zson.ZsonValue.read(spark, file)
    else if (file.endsWith(".zng")) graft.zson.Zng.read(spark, file)
    else spark.read.json(file)

  /** Produce an already-read DataFrame (lets the CLI read the input once
    * for both the schema sniff and the send).
    */
  def produceDF(bus: Bus, topic: String, df: DataFrame,
      keyCodec: EnvelopeCodec, valueCodec: EnvelopeCodec,
      keyExpr: String = "null", valueExpr: String = "struct(*)"): Map[String, Long] =
    bus.write(df.select(
      lit(topic).as("topic"),
      keyCodec.encode(expr(keyExpr)).as("key"),
      valueCodec.encode(expr(valueExpr)).as("value")))

  /** Consume a topic from `offset` and render ZSON lines (the reference's
    * default output format).
    */
  def consume(spark: SparkSession, bus: Bus, topic: String,
      keyCodec: EnvelopeCodec, valueCodec: EnvelopeCodec,
      offset: Long = 0L): Iterator[String] =
    Zson.renderAll(consumeDF(spark, bus, topic, keyCodec, valueCodec, offset))

  /** The decoded consume envelope as a DataFrame, for non-ZSON output
    * formats (`-f zng/json`, matching the reference's zed outputflags).
    */
  def consumeDF(spark: SparkSession, bus: Bus, topic: String,
      keyCodec: EnvelopeCodec, valueCodec: EnvelopeCodec,
      offset: Long = 0L): DataFrame = {
    val records = bus.readBatch(spark, Seq(topic), Map(topic -> offset))
    records.select(
      struct(col("topic"), col("partition"), col("offset")).as("kafka"),
      keyCodec.decode(col("key")).as("key"),
      valueCodec.decode(col("value")).as("value"))
      .orderBy(col("kafka.offset"))
  }

  /** Incremental Kafka→pool sync over a topic→pool routing table. */
  def fromKafka(spark: SparkSession, bus: Bus, root: String,
      routes: Map[String, Seq[String]], keyCodec: EnvelopeCodec,
      valueCodec: EnvelopeCodec,
      shaper: Option[DataFrame => DataFrame] = None): Map[String, Long] = {
    val from = new FromKafka(bus, keyCodec, valueCodec, shaper)
    from.syncRoutes(spark, routes.toSeq.map { case (pool, topics) =>
      Pool.create(spark, root, pool) -> topics
    })
  }

  /** Incremental pool→Kafka sync for one topic. */
  def toKafka(spark: SparkSession, bus: Bus, root: String, pool: String,
      topic: String, keyCodec: EnvelopeCodec, valueCodec: EnvelopeCodec): Long =
    new ToKafka(bus, keyCodec, valueCodec)
      .syncOnce(spark, Pool.open(spark, root, pool), topic)

  /** Run an ETL transform (YAML text) between pools; returns records
    * written.
    */
  def etl(spark: SparkSession, root: String, yaml: String): Long =
    new Pipeline(spark, Transform.fromYaml(yaml), root).run()

  /** The optimized plan of the output frame `etl` would append now — the
    * same scan bound, done set and compiled program, without the pins.
    * Mirrors `zync etl -zed` (golden-testable compiled form — here the
    * Catalyst plan).
    */
  def etlPlan(spark: SparkSession, root: String, yaml: String): String = {
    val p = new Pipeline(spark, Transform.fromYaml(yaml), root)
    p.plan().fold("(empty input pool)")(
      rp => p.output(rp).queryExecution.optimizedPlan.toString)
  }

  /** List pools under a lake root (zync ls). */
  def ls(root: String): Seq[String] =
    if (!Files.isDirectory(Paths.get(root))) Nil
    else {
      import scala.jdk.CollectionConverters._
      Files.list(Paths.get(root)).iterator.asScala.toSeq
        .filter(p => Files.exists(p.resolve("pool.json")))
        .map(_.getFileName.toString).sorted
    }

  /** Pool row/commit counts (zync info-style). */
  def info(spark: SparkSession, root: String, pool: String): Map[String, Long] = {
    val p = Pool.open(spark, root, pool)
    val rows = if (p.isEmpty) 0L else p.read().count()
    import scala.jdk.CollectionConverters._
    // _commits only appears on first append; a created-but-never-appended
    // pool has rows=0, commits=0.
    val commitsDir = Paths.get(root, pool, "_commits")
    val commits =
      if (!Files.isDirectory(commitsDir)) 0L
      else Files.list(commitsDir)
        .iterator.asScala.count(_.getFileName.toString.endsWith(".txt")).toLong
    Map("rows" -> rows, "commits" -> commits)
  }
}
