package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.concurrent.TrieMap

/** Message-transport abstraction so sync loops run identically against a
  * Kafka cluster or an in-memory fixture (the reference tests the same way:
  * ztests tagged `kafka` need a broker, the rest do not).
  *
  * Record shape both ways: (topic string, partition long, offset long,
  * key binary, value binary) — Spark's Kafka source columns.
  */
trait Bus {
  /** Bounded read of records with offset >= startOffsets(topic) (0 when
    * absent) for the given topics.
    */
  def readBatch(spark: SparkSession, topics: Seq[String],
      startOffsets: Map[String, Long]): DataFrame

  /** Append records (topic, key, value); returns per-topic write counts.
    *
    * Ordering contract: the broker receives rows in DataFrame order. A
    * frame may carry an `_off` column to make that order explicit — the
    * implementation then produces in ascending (topic, _off) order and
    * does NOT write `_off` to the broker. The FIFO envelope model depends
    * on this: broker order must equal pool offset order
    * (ref fifo/producer.go:82-101 produces synchronously in order).
    */
  def write(df: DataFrame): Map[String, Long]

  /** Next offset to be produced per topic (end watermark,
    * ref fifo/consumer.go:184-227).
    */
  def endOffsets(spark: SparkSession, topics: Seq[String]): Map[String, Long]
}

object Bus {
  val schema: StructType = StructType(Seq(
    StructField("topic", StringType),
    StructField("partition", LongType),
    StructField("offset", LongType),
    StructField("key", BinaryType),
    StructField("value", BinaryType)))
}

/** Kafka transport via Spark's Kafka source/sink (requires the
  * spark-sql-kafka connector on the classpath at runtime; zero-egress test
  * environments use [[MemoryBus]]).
  *
  * Note the reference pins every topic to one partition for FIFO ordering
  * (fifo/consumer.go:59-62) — we keep that contract for sync topics, so
  * `partition` is the Kafka partition (always 0 under the contract) and
  * offsets are per-topic monotone.
  */
final class KafkaBus(bootstrapServers: String,
    extraOptions: Map[String, String] = Map.empty) extends Bus {

  private def offsetsJson(topics: Seq[String], off: Map[String, Long],
      default: String): String =
    topics.map(t => s""""$t":{"0":${off.get(t).map(_.toString).getOrElse(default)}}""")
      .mkString("{", ",", "}")

  override def readBatch(spark: SparkSession, topics: Seq[String],
      startOffsets: Map[String, Long]): DataFrame = {
    val reader = spark.read.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topics.mkString(","))
      .option("startingOffsets", offsetsJson(topics, startOffsets, "-2"))
      .option("endingOffsets", "latest")
    extraOptions.foldLeft(reader) { case (r, (k, v)) => r.option(k, v) }
      .load()
      .select(col("topic"), col("partition").cast("long"),
        col("offset").cast("long"), col("key"), col("value"))
  }

  /** Streaming flavor for FromKafka.stream. */
  def readStream(spark: SparkSession, topics: Seq[String],
      startOffsets: Map[String, Long]): DataFrame = {
    val reader = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topics.mkString(","))
      .option("startingOffsets", offsetsJson(topics, startOffsets, "-2"))
    extraOptions.foldLeft(reader) { case (r, (k, v)) => r.option(k, v) }
      .load()
      .select(col("topic"), col("partition").cast("long"),
        col("offset").cast("long"), col("key"), col("value"))
  }

  override def write(df: DataFrame): Map[String, Long] = {
    // Pin produce order: the kafka sink writes partitions as parallel
    // tasks, so a multi-partition frame could reach the single-partition
    // FIFO topic out of offset order. One partition + in-partition sort
    // makes the produce a single in-order task, one per ToKafka pass (all
    // of the pass's pending records) — inherently serial anyway: ordered
    // produce to a 1-partition topic cannot be parallelized. A Spark task
    // retry re-produces the write's records, so the at-least-once window
    // on a retry spans one pass (local mode never retries a task).
    val ordered = (if (df.columns.contains("_off"))
        df.coalesce(1).sortWithinPartitions(col("topic"), col("_off"))
      else df.coalesce(1))
      .select(col("topic"), col("key"), col("value"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      ordered.write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrapServers)
        .save()
      // counts read the materialized cache — no second evaluation of the
      // upstream plan
      ordered.groupBy("topic").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    } finally { ordered.unpersist(); () }
  }

  /** Admin surface: AdminClient via [[KafkaAdmin]] (reflective — present
    * whenever the kafka connector is deployed).
    */
  lazy val admin: BusAdmin = new KafkaAdmin(bootstrapServers, extraOptions)

  override def endOffsets(spark: SparkSession, topics: Seq[String]): Map[String, Long] =
    admin.endOffsets(topics)
}

/** Durable file-backed transport: per-topic directories of offset-named
  * record files, standing in for a broker so the full
  * produce → from-kafka → etl → to-kafka → consume CLI workflow survives
  * process restarts (the reference needs a live Kafka for this; zero-egress
  * environments here cannot run one).
  *
  * Every offset is one `<offset>.rec` name. A write stores up to
  * [[FileBus.SegmentRecords]] records of a topic in ONE segment file and
  * publishes each record as a hard link `<offset>.rec` to it; the segment
  * = 4-byte big-endian [[FileBus.SegmentMagic]] + 8-byte first offset +
  * 4-byte count + per record 4-byte key length (-1 = null key), 4-byte
  * value length, key bytes, value bytes, so record `i` is the one at
  * `first + i`. A file starting with any other int is a single record
  * (the older layout, still read): key length + key bytes + value bytes.
  * One file per segment, not per record, because creating a file costs
  * far more than linking one and that cost swings with the state of the
  * file system. Offsets publish create-exclusively (hard link), so
  * concurrent producers serialize per topic instead of overwriting each
  * other — the same CAS as pool manifests.
  *
  * Driver-side I/O at CLI scale by design; [[KafkaBus]] is the production
  * path.
  */
final class FileBus(root: String) extends Bus with BusAdmin {
  import FileBus._
  import java.nio.file.{Files, Path, Paths}
  import java.nio.file.attribute.BasicFileAttributes
  import scala.jdk.CollectionConverters._

  private def dir(t: String): Path = Paths.get(root, t)

  private def recFiles(t: String): Seq[Path] =
    if (!Files.isDirectory(dir(t))) Nil
    else Files.list(dir(t)).iterator.asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".rec"))
      .sortBy(_.getFileName.toString)

  private def offsetOf(p: Path): Long =
    p.getFileName.toString.stripSuffix(".rec").toLong

  private def encodeSegment(first: Long, recs: Seq[Record]): Array[Byte] = {
    def len(b: Array[Byte]) = if (b == null) 0 else b.length
    val buf = java.nio.ByteBuffer.allocate(
      16 + recs.map { case (k, v) => 8 + len(k) + len(v) }.sum)
    buf.putInt(SegmentMagic).putLong(first).putInt(recs.size)
    recs.foreach { case (k, v) =>
      buf.putInt(if (k == null) -1 else k.length).putInt(len(v))
      if (k != null) buf.put(k)
      if (v != null) buf.put(v)
    }
    buf.array()
  }

  /** The records a file holds and the offset of the first: a segment's
    * own, or `off` for a single-record file.
    */
  private def decodeFile(bytes: Array[Byte], off: Long): (Long, IndexedSeq[Record]) = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    def take(n: Int): Array[Byte] = { val b = new Array[Byte](n); buf.get(b); b }
    val head = buf.getInt()
    if (head == SegmentMagic) {
      val first = buf.getLong()
      (first, IndexedSeq.fill(buf.getInt()) {
        val klen = buf.getInt()
        val vlen = buf.getInt()
        (if (klen < 0) null else take(klen), take(vlen))
      })
    } else {
      val key = if (head < 0) null else take(head)
      (off, IndexedSeq((key, take(buf.remaining()))))
    }
  }

  def publish(topic: String, key: Array[Byte], value: Array[Byte]): Long = {
    Files.createDirectories(dir(topic))
    publishFrom(topic, IndexedSeq((key, value)), endOffset(topic)) - 1
  }

  /** The CAS publish loop with a caller-supplied starting offset: offsets
    * only grow, so a batch writer ([[write]]) can carry its own cursor and
    * skip the directory listing `endOffset` costs — one listing per topic
    * plus one per LOST RACE. The records go into one segment and their
    * names are linked in order; a lost race (a stale, too-low hint or a
    * concurrent producer) re-lists and moves the rest into a new segment
    * at the true end, preserving the multi-producer CAS semantics exactly.
    * Returns the offset after the last record.
    */
  private def publishFrom(topic: String, recs: IndexedSeq[Record], start: Long): Long = {
    var from = 0 // first record not yet published
    var off = start // the offset it takes
    var lost = 0
    while (from < recs.size) {
      val seg = recs.drop(from)
      val tmp = dir(topic).resolve(s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      Files.write(tmp, encodeSegment(off, seg))
      try {
        var i = 0
        var raced = false
        while (i < seg.size && !raced) {
          try {
            Files.createLink(dir(topic).resolve(f"${off + i}%012d.rec"), tmp)
            i += 1
          } catch {
            case _: java.nio.file.FileAlreadyExistsException => raced = true
          }
        }
        from += i
        if (!raced) off += i
        else {
          lost += 1
          if (lost >= 1000)
            throw new IllegalStateException(s"FileBus: lost 1000 publish races on $topic")
          off = math.max(off + i + 1, endOffset(topic))
        }
      } finally Files.deleteIfExists(tmp)
    }
    off
  }

  private def endOffset(t: String): Long =
    recFiles(t).lastOption.map(offsetOf(_) + 1).getOrElse(0L)

  override def readBatch(spark: SparkSession, topics: Seq[String],
      startOffsets: Map[String, Long]): DataFrame = {
    val rows = topics.flatMap { t =>
      val start = startOffsets.getOrElse(t, 0L)
      // names of one segment are consecutive: keep the last file read and
      // reuse it while the names point at the same file (inode)
      var last: (AnyRef, Long, IndexedSeq[Record]) = (null, 0L, IndexedSeq.empty)
      recFiles(t).flatMap { p =>
        val off = offsetOf(p)
        if (off < start) None
        else {
          val id = Files.readAttributes(p, classOf[BasicFileAttributes]).fileKey()
          if (id == null || id != last._1) {
            val (first, recs) = decodeFile(Files.readAllBytes(p), off)
            last = (id, first, recs)
          }
          val (k, v) = last._3((off - last._2).toInt)
          Some(org.apache.spark.sql.Row(t, 0L, off, k, v))
        }
      }
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), Bus.schema)
  }

  override def write(df: DataFrame): Map[String, Long] = {
    val src = if (df.columns.contains("_off"))
      df.orderBy(col("topic"), col("_off")) else df
    // Stream partition-by-partition through the driver (`toLocalIterator`,
    // the same no-driver-buffering discipline the consume paths document):
    // FileBus is the durable CLI transport, so a produce of N records must
    // hold at most one partition plus one segment per topic, not N rows,
    // in driver memory — the old collect() materialized the whole frame.
    // In-order per topic is preserved: the `_off` sort (when present)
    // orders the partitions themselves, the iterator walks them in order,
    // and each topic's segments publish in arrival order. Records
    // published before a mid-stream failure STAY published — Kafka produce
    // semantics (a broker produce acked before an error is delivered): on
    // a failure the records already read are published before it is
    // rethrown. FileBusSpec pins both.
    val counts = scala.collection.mutable.Map.empty[String, Long]
    // per-topic offset cursor: endOffset lists the topic dir, so the batch
    // pays ONE listing per topic (plus one per lost multi-producer race
    // inside publishFrom) instead of one per segment
    val next = scala.collection.mutable.Map.empty[String, Long]
    val pending = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[Record]]
    def flush(t: String): Unit = pending.remove(t).foreach { recs =>
      next(t) = publishFrom(t, recs.toIndexedSeq, next.getOrElse(t, endOffset(t)))
      counts(t) = counts.getOrElse(t, 0L) + recs.size
    }
    val it = src.select(col("topic"),
      col("key").cast("binary"), col("value").cast("binary")).toLocalIterator()
    try {
      while (it.hasNext) {
        val r = it.next()
        val t = r.getString(0)
        val buf = pending.getOrElseUpdate(t, {
          Files.createDirectories(dir(t))
          scala.collection.mutable.ArrayBuffer.empty[Record]
        })
        buf += ((r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2)))
        if (buf.size >= SegmentRecords) flush(t)
      }
    } catch {
      case e: Throwable =>
        pending.keys.toList.foreach { t =>
          try flush(t) catch { case f: Throwable => e.addSuppressed(f) }
        }
        throw e
    }
    pending.keys.toList.foreach(flush)
    counts.toMap
  }

  override def endOffsets(spark: SparkSession, topics: Seq[String]): Map[String, Long] =
    topics.map(t => t -> endOffset(t)).toMap

  override def createMissingTopics(topics: Seq[String], partitions: Int,
      replication: Short): Unit =
    topics.foreach(t => Files.createDirectories(dir(t)))

  override def startOffsets(topics: Seq[String]): Map[String, Long] =
    topics.map(t => t -> recFiles(t).headOption.map(offsetOf).getOrElse(0L)).toMap

  override def endOffsets(topics: Seq[String]): Map[String, Long] =
    topics.map(t => t -> endOffset(t)).toMap
}

object FileBus {
  /** A record's key and value bytes. */
  private type Record = (Array[Byte], Array[Byte])

  /** Most records one segment file holds. */
  val SegmentRecords = 1024

  /** First int of a segment file: never a key length (-1 = null key). */
  val SegmentMagic: Int = -2
}

/** In-memory transport for tests and local pipelines: per-topic append-only
  * buffers with Kafka offset semantics.
  */
final class MemoryBus extends Bus with BusAdmin {
  private val topicsMap = TrieMap.empty[String, scala.collection.mutable.Buffer[(Array[Byte], Array[Byte])]]

  def publish(topic: String, key: Array[Byte], value: Array[Byte]): Long =
    topicsMap.synchronized {
      val buf = topicsMap.getOrElseUpdate(topic, scala.collection.mutable.Buffer.empty)
      buf += ((key, value))
      buf.size.toLong - 1
    }

  override def readBatch(spark: SparkSession, topics: Seq[String],
      startOffsets: Map[String, Long]): DataFrame = {
    val rows = topicsMap.synchronized {
      topics.flatMap { t =>
        val start = startOffsets.getOrElse(t, 0L)
        topicsMap.getOrElse(t, Nil).zipWithIndex.drop(start.toInt).map {
          case ((k, v), i) =>
            org.apache.spark.sql.Row(t, 0L, i.toLong, k, v)
        }
      }
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 4), Bus.schema)
  }

  override def write(df: DataFrame): Map[String, Long] = {
    val src = if (df.columns.contains("_off"))
      df.orderBy(col("topic"), col("_off")) else df
    val rows = src.select(col("topic"),
      col("key").cast("binary"), col("value").cast("binary")).collect()
    topicsMap.synchronized {
      rows.foreach(r => publish(r.getString(0),
        r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2)))
    }
    rows.groupBy(_.getString(0)).view.mapValues(_.length.toLong).toMap
  }

  override def endOffsets(spark: SparkSession, topics: Seq[String]): Map[String, Long] =
    endOffsets(topics)

  override def createMissingTopics(topics: Seq[String], partitions: Int,
      replication: Short): Unit = topicsMap.synchronized {
    topics.foreach(t =>
      topicsMap.getOrElseUpdate(t, scala.collection.mutable.Buffer.empty))
  }

  override def startOffsets(topics: Seq[String]): Map[String, Long] =
    topics.map(_ -> 0L).toMap // nothing is ever trimmed in memory

  override def endOffsets(topics: Seq[String]): Map[String, Long] =
    topicsMap.synchronized {
      topics.map(t => t -> topicsMap.get(t).map(_.size.toLong).getOrElse(0L)).toMap
    }
}
