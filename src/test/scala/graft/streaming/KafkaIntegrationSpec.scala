package graft.streaming

import graft.GraftSession
import graft.codecs.ConnectJson
import graft.lake.Pool
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Optional real-broker tier, the analogue of the reference's
  * `ZTEST_TAG=kafka` ztests (Makefile:20-26, ztests/from-kafka.yaml:1-49):
  * drives produce → from-kafka → to-kafka → consume through [[KafkaBus]]
  * against a live cluster.
  *
  * Gated, not tagged: each test `assume`s its prerequisites and reports as
  * CANCELED (not failed) when they're absent, so the suite is a no-op in
  * zero-egress environments and turns on by exporting
  * `GRAFT_KAFKA_BOOTSTRAP=host:port` with the spark-sql-kafka connector
  * (and its kafka-clients) deployed.
  *
  * NOTE for the admin plane: [[KafkaStubs]] places stand-in kafka-clients
  * admin classes on the TEST classpath (for AdminSpec's always-on
  * reflection-contract run). When running this tier, classpath order
  * decides which AdminClient `Class.forName` binds; the data-plane test
  * below therefore measures end offsets through the connector itself
  * (`readBatch` max+1) and only the watermark test requires the REAL
  * kafka-clients to win (asserted via a class the stubs don't define).
  */
class KafkaIntegrationSpec extends AnyFunSuite {

  private val bootstrap = sys.env.get("GRAFT_KAFKA_BOOTSTRAP")

  private def hasClass(name: String): Boolean =
    try { Class.forName(name); true }
    catch { case _: Throwable => false }

  private def connectorPresent: Boolean =
    hasClass("org.apache.spark.sql.kafka010.KafkaSourceProvider")

  /** The stubs define AdminClient but not KafkaFuture — its presence means
    * the real kafka-clients jar is on the classpath.
    */
  private def realKafkaClients: Boolean =
    hasClass("org.apache.kafka.common.KafkaFuture")

  lazy val spark: SparkSession = GraftSession.local(4)

  private val valueSchema = StructType(Seq(
    StructField("op", StringType), StructField("n", LongType)))

  private def freshTopic(prefix: String): String =
    s"$prefix-${java.util.UUID.randomUUID().toString.take(8)}"

  test("live broker: produce → from-kafka → to-kafka → consume round trip") {
    assume(bootstrap.isDefined,
      "set GRAFT_KAFKA_BOOTSTRAP=host:port to run the kafka tier")
    assume(connectorPresent, "spark-sql-kafka connector not on the classpath")
    val bus = new KafkaBus(bootstrap.get)
    val in = freshTopic("graft-in")
    val out = freshTopic("graft-out")
    if (realKafkaClients) bus.admin.createMissingTopics(Seq(in, out))
    // else: rely on broker-side auto.create.topics.enable

    // produce 20 connect-json messages in offset order
    val n = 20
    val seed = spark.range(n).select(
      lit(in).as("topic"),
      col("id").as("_off"), // pins produce order (Bus.write contract)
      lit(null).cast("binary").as("key"),
      ConnectJson.encode(struct(lit("c").as("op"), col("id").as("n")),
        valueSchema).cast("binary").as("value"))
    assert(bus.write(seed) == Map(in -> n.toLong))

    // from-kafka: envelope into a pool, offsets dense from 0
    val root = Files.createTempDirectory("kafka-it").toString
    val pool = Pool.create(spark, root, "IT")
    val from = new FromKafka(bus, RawStringCodec, new ConnectJsonCodec(valueSchema))
    assert(from.syncOnce(spark, Seq(in), pool) == n.toLong)
    val got = pool.read().orderBy("kafka.offset")
      .select(col("kafka.offset"), col("value.n")).collect()
    assert(got.map(_.getLong(0)).toSeq == (0L until n))
    assert(got.map(_.getLong(1)).toSeq == (0L until n))
    // resume: a second pass consumes nothing
    assert(from.syncOnce(spark, Seq(in), pool) == 0L)

    // to-kafka: retarget the pool rows at `out` and produce them
    val root2 = Files.createTempDirectory("kafka-it2").toString
    val pool2 = Pool.create(spark, root2, "IT2")
    pool2.append(pool.read().withColumn("kafka",
      struct(lit(out).as("topic"), col("kafka.partition").as("partition"),
        col("kafka.offset").as("offset"))))
    // end offsets through the connector (classpath-order independent)
    val busNoAdmin: Bus = new Bus {
      override def readBatch(s: SparkSession, topics: Seq[String],
          startOffsets: Map[String, Long]) = bus.readBatch(s, topics, startOffsets)
      override def write(df: org.apache.spark.sql.DataFrame) = bus.write(df)
      override def endOffsets(s: SparkSession, topics: Seq[String]): Map[String, Long] =
        topics.map { t =>
          val r = bus.readBatch(s, Seq(t), Map.empty)
            .agg(max("offset")).collect()(0)
          t -> (if (r.isNullAt(0)) 0L else r.getLong(0) + 1L)
        }.toMap
    }
    val to = new ToKafka(busNoAdmin, RawStringCodec, new ConnectJsonCodec(valueSchema))
    assert(to.syncOnce(spark, pool2, out) == n.toLong)

    // consume: broker arrival order equals pool offset order
    val vals = bus.readBatch(spark, Seq(out), Map.empty)
      .orderBy("offset")
      .select(ConnectJson.decode(col("value").cast("string"), valueSchema).as("v"))
      .select("v.n").collect().map(_.getLong(0)).toSeq
    assert(vals == (0L until n))
  }

  test("live broker: admin watermarks through the real kafka-clients") {
    assume(bootstrap.isDefined,
      "set GRAFT_KAFKA_BOOTSTRAP=host:port to run the kafka tier")
    assume(realKafkaClients,
      "real kafka-clients jar must precede the test stubs on the classpath")
    val admin = new KafkaAdmin(bootstrap.get)
    val t = freshTopic("graft-wm")
    admin.createMissingTopics(Seq(t))
    assert(admin.watermarks(t) == ((0L, 0L)))
  }
}
