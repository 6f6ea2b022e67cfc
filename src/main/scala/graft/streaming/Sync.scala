package graft.streaming

import graft.codecs.{ConnectJson, SchemaRegistry, ZAvro}
import graft.lake.Pool
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Per-message codec applied at the bus boundary. */
trait EnvelopeCodec extends Serializable {
  def decode(c: Column): Column
  def encode(c: Column): Column
}

/** UTF-8 string payloads (the reference's text formats). */
object RawStringCodec extends EnvelopeCodec {
  override def decode(c: Column): Column = c.cast("string")
  override def encode(c: Column): Column = c.cast("binary")
}

final class ConnectJsonCodec(schema: DataType) extends EnvelopeCodec {
  override def decode(c: Column): Column = ConnectJson.decode(c.cast("string"), schema)
  override def encode(c: Column): Column =
    ConnectJson.encode(c, schema).cast("binary")
}

final class RegistryAvroCodec(schema: StructType, namespace: String,
    registry: SchemaRegistry) extends EnvelopeCodec {
  override def decode(c: Column): Column = ZAvro.decodeColumn(c, schema, registry)
  override def encode(c: Column): Column = ZAvro.encodeColumn(c, schema, namespace, registry)
}

/** Kafka → pool sync (ref: cmd/zync/from-kafka/command.go:86-301).
  *
  * Batch flavor: one call = consume-available → decode → envelope →
  * optional shaper → one atomic pool commit, with start offsets recovered
  * from the pool itself (`tail 1`-per-topic semantics, fifo/lake.go:62-82) —
  * so a crashed sync resumes exactly where the last commit left off,
  * independent of consumer-group state.
  *
  * Scale: decode + envelope are per-row expressions; the pool append is the
  * only materialization. For continuous operation `stream` wires the same
  * stages into foreachBatch with Spark checkpointing on top.
  */
final class FromKafka(bus: Bus, keyCodec: EnvelopeCodec, valueCodec: EnvelopeCodec,
    shaper: Option[DataFrame => DataFrame] = None,
    maxRecordsPerCommit: Long = 1L << 20) {

  /** Recover per-topic resume offsets from the pool: max(kafka.offset)+1.
    * Served from `#offsets` commit metadata when the pool carries it (no
    * parquet scan per sync pass — see Pool.nextProducerOffsets); legacy
    * pools fall back to a column-pruned scan.
    */
  def resumeOffsets(pool: Pool, topics: Seq[String]): Map[String, Long] =
    pool.nextProducerOffsets().view.filterKeys(topics.contains).toMap

  def envelope(records: DataFrame): DataFrame = {
    val env = records.select(
      struct(col("topic"), col("partition"), col("offset")).as("kafka"),
      keyCodec.decode(col("key")).as("key"),
      valueCodec.decode(col("value")).as("value"))
    shaper.map(f => f(env)).getOrElse(env)
  }

  /** One bounded sync pass; returns records committed. A backlog larger
    * than `maxRecordsPerCommit` lands as multiple atomic commits in offset
    * order (the reference's `-thresh` micro-batching,
    * cmd/zync/from-kafka/command.go:79,246-294) so restart loses at most
    * one commit's worth of progress, never the whole backlog.
    */
  def syncOnce(spark: SparkSession, topics: Seq[String], pool: Pool): Long = {
    var total = 0L
    var continue = true
    while (continue) {
      val start = resumeOffsets(pool, topics)
      val capped = bus.readBatch(spark, topics, start)
        .orderBy("topic", "offset")
        .limit(if (maxRecordsPerCommit > Int.MaxValue) Int.MaxValue
          else maxRecordsPerCommit.toInt)
      val env = envelope(capped).cache()
      try {
        val n = env.count()
        if (n > 0) pool.append(env)
        total += n
        continue = n >= maxRecordsPerCommit
      } finally env.unpersist()
    }
    total
  }

  /** Continuous sync from any streaming source with Bus.schema columns:
    * decode/envelope/shape run inside foreachBatch, each micro-batch lands
    * as one atomic pool commit (the reference's thresh/interval
    * micro-batching maps to trigger + maxOffsetsPerTrigger).
    */
  def streamFrom(records: DataFrame, pool: Pool,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    records.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val env = envelope(batch)
        if (!env.isEmpty) { pool.append(env); () }
      }
      .start()

  /** Kafka flavor of [[streamFrom]] with pool-recovered start offsets. */
  def stream(spark: SparkSession, kafka: KafkaBus, topics: Seq[String], pool: Pool,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    streamFrom(kafka.readStream(spark, topics, resumeOffsets(pool, topics)),
      pool, checkpoint)

  /** Topic→pool fan-out: one bounded sync per pool over its topics,
    * submitted concurrently — Spark schedules the independent jobs in
    * parallel, the analogue of the reference's per-pool loader goroutines
    * (cmd/zync/from-kafka/command.go:93-119 routing, :150-215 loaders).
    */
  def syncRoutes(spark: SparkSession,
      routes: Seq[(Pool, Seq[String])]): Map[String, Long] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val futures = routes.map { case (pool, topics) =>
      Future(pool.name -> syncOnce(spark, topics, pool))
    }
    Await.result(Future.sequence(futures), Duration.Inf).toMap
  }
}

/** Pool → Kafka sync (ref: fifo/to.go:31-55).
  *
  * Resumes from the producer high-water mark: records with
  * kafka.offset >= (end offset of the target topic) have not been produced
  * yet — the same lake-vs-broker cursor comparison the reference makes.
  * Each pass publishes every pending record in ONE ordered bus write. The
  * reference's `BatchSize = 200` (fifo/to.go:29) is the page size of one
  * lake query; this port reads the pending range in one scan, so there is
  * no page to size. Restart stays exact: records a failed write already
  * published raise the topic's end offset, and the next pass resumes there.
  */
final class ToKafka(bus: Bus, keyCodec: EnvelopeCodec, valueCodec: EnvelopeCodec) {

  def syncOnce(spark: SparkSession, pool: Pool, topic: String): Long = {
    val start = bus.endOffsets(spark, Seq(topic)).getOrElse(topic, 0L)
    // ONE range-pruned pool read per sync pass (one manifest listing, one
    // scan plan). The zone-map prune drops already-produced files from the
    // scan entirely — the reference's range query (fifo/to.go:31-55) at
    // manifest cost; the exact `kafka.offset >= start` predicate below
    // still applies.
    val ranged = pool.readRange(lower = Some(start))
    // A fully pruned/empty pool reads as a zero-column DataFrame; the
    // kafka.* column references below would fail to resolve. Nothing to
    // produce anyway.
    if (ranged.columns.isEmpty) return 0L
    // Guard (mirrors Pipeline.plan): mergeSchema over the pruned tail can
    // surface a narrower fused schema than the full pool if a referenced
    // column (key/value/kafka/_type) only appears in pruned files —
    // heterogeneous commits are a supported pool feature. Fall back to the
    // full scan rather than fail resolution; the offset predicate below
    // still gates exactly.
    val all =
      if (Seq("kafka", "key", "value").forall(ranged.columns.contains)) ranged
      else pool.read()
    val dataOnly = // done markers never produce; pools without the
      // marker column are all data
      if (all.columns.contains("_type")) all.filter(col("_type").isNull)
      else all
    // `_off` rides along so the bus itself pins produce order (see
    // Bus.write's ordering contract) — a sort here would not survive the
    // sink's parallel partition writes
    val pending = dataOnly
      .filter(col("kafka.topic") === topic && col("kafka.offset") >= start)
      .select(col("kafka.offset").as("_off"),
        col("kafka.topic").as("topic"),
        keyCodec.encode(col("key")).as("key"),
        valueCodec.encode(col("value")).as("value"))
    bus.write(pending).getOrElse(topic, 0L)
  }
}
