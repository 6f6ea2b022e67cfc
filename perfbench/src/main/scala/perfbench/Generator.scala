package perfbench

import graft.streaming.Bus
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** One generated event, shaped like a row of the sf `events` table: the
  * topic is its `event_type`, the key is `{user}` and the value is
  * `{v, k, ref}`. `ref` is set on purchases only: the bus offset of the
  * signup it pairs with. `pass` is the index of the sync pass that
  * consumes the record (0 = the backfill or the trickle history).
  */
final case class Event(topic: String, offset: Long, user: Long, v: Double,
    k: Long, ref: java.lang.Long, pass: Int)

/** Seeded load generator. It builds bus records and writes them through
  * the public `Bus.write`; it never touches a pool.
  *
  * The type mix follows the sf events table (five types at about 20%
  * each). Every purchase pairs with one signup that lands in the same
  * batch or the next one (seeded coin), and that signup pairs with no
  * other purchase. The pending denorm set is therefore bounded by one
  * batch. A batch drawn with `defer = false` completes all its pairs, so
  * a backfill leaves no record pending.
  */
object Generator {
  val Topics: Seq[String] = Seq("view", "click", "error", "purchase", "signup")
  val Users = 1500

  val keySchema: StructType = StructType(Seq(StructField("user", LongType)))
  val valueSchema: StructType = StructType(Seq(
    StructField("v", DoubleType), StructField("k", LongType),
    StructField("ref", LongType)))

  private final class Slot(rnd: scala.util.Random, val topic: String) {
    val user: Long = rnd.nextInt(Users).toLong
    val v: Double = (100 + rnd.nextInt(19900)) / 100.0
    val k: Long = rnd.nextInt(100).toLong
    var partner: Slot = _
    var offset: Long = -1L
  }

  /** A seeded stream of batches; `pass` numbers them from 0. */
  final class Stream(seed: Long) {
    private val rnd = new scala.util.Random(seed)
    private val next = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    private var deferred = Vector.empty[Slot]
    private var pass = 0

    /** The next batch: about `size` records, plus the signups the previous
      * batch deferred. With `defer = false` every pair completes here.
      */
    def nextBatch(size: Int, defer: Boolean): IndexedSeq[Event] = {
      val slots = scala.collection.mutable.ArrayBuffer.empty[Slot]
      slots ++= deferred
      deferred = Vector.empty
      while (slots.size < size) {
        rnd.nextInt(4) match {
          case 0 => slots += new Slot(rnd, "view")
          case 1 => slots += new Slot(rnd, "click")
          case 2 => slots += new Slot(rnd, "error")
          case _ =>
            val p = new Slot(rnd, "purchase")
            val s = new Slot(rnd, "signup")
            p.partner = s
            slots += p
            if (defer && rnd.nextBoolean()) deferred :+= s else slots += s
        }
      }
      slots.foreach { s => s.offset = next(s.topic); next(s.topic) += 1 }
      // deferred signups lead the next batch, so their offsets follow on
      deferred.zipWithIndex.foreach { case (s, i) => s.offset = next(s.topic) + i }
      val out = slots.map { s =>
        val ref = if (s.partner == null) null else java.lang.Long.valueOf(s.partner.offset)
        Event(s.topic, s.offset, s.user, s.v, s.k, ref, pass)
      }.toIndexedSeq
      pass += 1
      out
    }
  }

  /** Kafka-Connect JSON, the input topics' wire format: schema plus
    * payload in every message.
    */
  object ConnectJson {
    private val keyConnect =
      """{"type":"struct","optional":true,"fields":[""" +
        """{"type":"int64","optional":true,"field":"user"}]}"""
    private val valueConnect =
      """{"type":"struct","optional":true,"fields":[""" +
        """{"type":"double","optional":true,"field":"v"},""" +
        """{"type":"int64","optional":true,"field":"k"},""" +
        """{"type":"int64","optional":true,"field":"ref"}]}"""
    def key(e: Event): Array[Byte] =
      s"""{"schema":$keyConnect,"payload":{"user":${e.user}}}""".getBytes("UTF-8")
    def value(e: Event): Array[Byte] = {
      val ref = if (e.ref == null) "null" else e.ref.toString
      (s"""{"schema":$valueConnect,"payload":""" +
        s"""{"v":${e.v},"k":${e.k},"ref":$ref}}""").getBytes("UTF-8")
    }
  }

  private val wireSchema = StructType(Seq(
    StructField("topic", StringType), StructField("_off", LongType),
    StructField("key", BinaryType), StructField("value", BinaryType)))

  /** Encoded bus rows of a batch; built before the produce is timed. */
  def encode(batch: Seq[Event]): Seq[Row] =
    batch.map(e => Row(e.topic, e.offset, ConnectJson.key(e), ConnectJson.value(e)))

  /** Produce one encoded batch through `Bus.write`, in offset order. */
  def produce(spark: SparkSession, bus: Bus, rows: Seq[Row]): Map[String, Long] =
    bus.write(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), wireSchema))
}
