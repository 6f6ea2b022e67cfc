package graft.streaming

import graft.GraftSession
import graft.codecs.{ConnectJson, InMemorySchemaRegistry}
import graft.lake.Pool
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** from-kafka / to-kafka sync loops against the in-memory bus: envelope
  * wrap, codec decode, offset recovery (resume where the pool left off),
  * shaper hook, and the produce loop's high-water-mark resume — the
  * semantics of cmd/zync/from-kafka and fifo/to.go without a broker.
  */
class SyncSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4)

  val valueSchema: StructType = StructType(Seq(
    StructField("op", StringType), StructField("n", LongType)))
  val keySchema: StructType = StructType(Seq(StructField("ID", LongType)))

  def connectMsg(schema: StructType, payload: String): Array[Byte] =
    (s"""{"schema":${ConnectJson.schemaJson(schema)},"payload":$payload}""").getBytes("UTF-8")

  test("from-kafka: consume, envelope, commit, resume incrementally") {
    val bus = new MemoryBus
    val root = Files.createTempDirectory("sync").toString
    val pool = Pool.create(spark, root, "PoolA")
    val from = new FromKafka(bus,
      new ConnectJsonCodec(keySchema), new ConnectJsonCodec(valueSchema))

    bus.publish("T", connectMsg(keySchema, """{"ID":1}"""),
      connectMsg(valueSchema, """{"op":"c","n":10}"""))
    bus.publish("T", connectMsg(keySchema, """{"ID":2}"""),
      connectMsg(valueSchema, """{"op":"u","n":20}"""))

    assert(from.syncOnce(spark, Seq("T"), pool) == 2)
    // no new messages -> nothing committed
    assert(from.syncOnce(spark, Seq("T"), pool) == 0)

    // resume: only the new message is consumed after more arrive
    bus.publish("T", connectMsg(keySchema, """{"ID":3}"""),
      connectMsg(valueSchema, """{"op":"d","n":30}"""))
    assert(from.syncOnce(spark, Seq("T"), pool) == 1)

    val rows = pool.read().orderBy("kafka.offset")
      .select(col("kafka.offset"), col("key.ID"), col("value.op"), col("value.n"))
      .collect().map(_.toString).toSeq
    assert(rows == Seq("[0,1,c,10]", "[1,2,u,20]", "[2,3,d,30]"))
  }

  test("from-kafka: shaper transform applies in-flight (README.md:77-80)") {
    val bus = new MemoryBus
    val root = Files.createTempDirectory("sync-shape").toString
    val pool = Pool.create(spark, root, "PoolS")
    val shaper: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => df.withColumn("value",
        col("value").withField("op", upper(col("value.op"))))
    val from = new FromKafka(bus, new ConnectJsonCodec(keySchema),
      new ConnectJsonCodec(valueSchema), Some(shaper))
    bus.publish("S", connectMsg(keySchema, """{"ID":9}"""),
      connectMsg(valueSchema, """{"op":"c","n":1}"""))
    assert(from.syncOnce(spark, Seq("S"), pool) == 1)
    assert(pool.read().select("value.op").head().getString(0) == "C")
  }

  test("from-kafka: thresh cap splits a backlog into multiple atomic commits") {
    val bus = new MemoryBus
    val root = Files.createTempDirectory("sync-thresh").toString
    val pool = Pool.create(spark, root, "PoolT")
    (0 until 10).foreach(i => bus.publish("T",
      connectMsg(keySchema, s"""{"ID":$i}"""),
      connectMsg(valueSchema, s"""{"op":"c","n":$i}""")))
    val from = new FromKafka(bus, new ConnectJsonCodec(keySchema),
      new ConnectJsonCodec(valueSchema), maxRecordsPerCommit = 4)
    assert(from.syncOnce(spark, Seq("T"), pool) == 10)
    // ceil(10/4) = 3 commits, offsets contiguous
    assert(java.nio.file.Files.list(
      java.nio.file.Paths.get(root, "PoolT", "_commits")).count() == 3)
    val offs = pool.read().select("kafka.offset").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(offs == (0L until 10L))
  }

  test("to-kafka: produce from pool with high-water-mark resume") {
    val bus = new MemoryBus
    val root = Files.createTempDirectory("sync-to").toString
    val pool = Pool.create(spark, root, "PoolB")
    val rowsSchema = StructType(Seq(
      StructField("kafka", StructType(Seq(
        StructField("topic", StringType), StructField("offset", LongType)))),
      StructField("key", keySchema),
      StructField("value", valueSchema),
      StructField("_type", StringType)))
    pool.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(Row("Out", 0L), Row(1L), Row("c", 10L), null),
      Row(Row("Out", 1L), Row(2L), Row("u", 20L), null),
      Row(Row("Out", 2L), null, null, "done"))), rowsSchema))

    val to = new ToKafka(bus, new ConnectJsonCodec(keySchema),
      new ConnectJsonCodec(valueSchema))
    // done rows are excluded from produce; the pass plans the pool exactly
    // once (one manifest listing)
    val listingsBefore = pool.manifestListings.get()
    assert(to.syncOnce(spark, pool, "Out") == 2)
    assert(pool.manifestListings.get() - listingsBefore == 1)
    assert(bus.endOffsets(spark, Seq("Out"))("Out") == 2)
    // already produced -> no-op
    assert(to.syncOnce(spark, pool, "Out") == 0)

    // round trip back: the produced messages decode to the original values
    val back = bus.readBatch(spark, Seq("Out"), Map.empty)
      .select(ConnectJson.decode(col("value").cast("string"), valueSchema).as("v"))
      .select("v.*").orderBy("n").collect().map(_.toString).toSeq
    assert(back == Seq("[c,10]", "[u,20]"))
  }

  test("to-kafka: empty pool is a no-op, not an error") {
    val bus = new MemoryBus
    val root = Files.createTempDirectory("sync-to-empty").toString
    val pool = Pool.create(spark, root, "Empty")
    val to = new ToKafka(bus, new ConnectJsonCodec(keySchema),
      new ConnectJsonCodec(valueSchema))
    assert(to.syncOnce(spark, pool, "Out") == 0L)
  }

  test("bus write pins produce order on a shuffled multi-partition batch") {
    // The FIFO model requires broker order == pool offset order
    // (fifo/producer.go:82-101 produces synchronously in order). A frame
    // carrying `_off` must reach the topic in ascending _off order no
    // matter how its partitions are arranged.
    val bus = new MemoryBus
    val n = 50
    val scrambled = spark.range(n)
      .select(lit("Ord").as("topic"),
        // reverse offsets so natural row order is the WRONG produce order
        (lit(n - 1) - col("id")).as("_off"),
        lit(null).cast("binary").as("key"),
        concat(lit("v"), lit(n - 1) - col("id")).cast("binary").as("value"))
      .repartition(8) // hash-shuffle: partition order ≠ offset order
    assert(scrambled.rdd.getNumPartitions == 8)
    assert(bus.write(scrambled) == Map("Ord" -> n.toLong))
    val got = bus.readBatch(spark, Seq("Ord"), Map.empty)
      .orderBy("offset") // broker arrival order
      .select(col("value").cast("string")).collect().map(_.getString(0)).toSeq
    assert(got == (0 until n).map(i => s"v$i"))
  }

  test("to-kafka: a batch spanning several pool partitions produces in offset order") {
    val bus = new MemoryBus
    val root = Files.createTempDirectory("sync-order").toString
    val pool = Pool.create(spark, root, "PoolOrd")
    val from = new FromKafka(bus,
      new ConnectJsonCodec(keySchema), new ConnectJsonCodec(valueSchema))
    (0 until 30).foreach(i => bus.publish("T",
      connectMsg(keySchema, s"""{"ID":$i}"""),
      connectMsg(valueSchema, s"""{"op":"c","n":$i}""")))
    assert(from.syncOnce(spark, Seq("T"), pool) == 30)

    // Retarget the synced records at topic "Out" in a second pool (producing
    // back onto "T" would pend nothing: T's end offset is already 30).
    val root2 = Files.createTempDirectory("sync-order2").toString
    val pool2 = Pool.create(spark, root2, "PoolOrd2")
    pool2.append(pool.read().withColumn("kafka",
      struct(lit("Out").as("topic"), col("kafka.partition").as("partition"),
        col("kafka.offset").as("offset"))))

    // the whole pass is one bus write of a multi-partition pending frame:
    // 1 KB file splits keep the pool's small files from packing into one
    // scan partition
    val to = new ToKafka(bus, new ConnectJsonCodec(keySchema),
      new ConnectJsonCodec(valueSchema))
    val splitConf = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.get(splitConf)
    spark.conf.set(splitConf, "1024")
    try {
      val parts = pool2.read().rdd.getNumPartitions
      assert(parts > 1, s"pending frame must span partitions, got $parts")
      assert(to.syncOnce(spark, pool2, "Out") == 30L)
    } finally spark.conf.set(splitConf, saved)
    val vals = bus.readBatch(spark, Seq("Out"), Map.empty)
      .orderBy("offset")
      .select(ConnectJson.decode(col("value").cast("string"), valueSchema).as("v"))
      .select("v.n").collect().map(_.getLong(0)).toSeq
    assert(vals == (0L until 30L)) // broker arrival order == pool offset order
  }

  test("to-kafka: one bus write per pass, jobs independent of record count") {
    // A pass publishes its whole pending set in one ordered bus write, so
    // its Spark job count is a per-pass constant, not a function of how
    // many records are pending.
    val inner = new MemoryBus
    val writes = new java.util.concurrent.atomic.AtomicInteger
    val bus: Bus = new Bus {
      override def readBatch(s: SparkSession, topics: Seq[String],
          startOffsets: Map[String, Long]) = inner.readBatch(s, topics, startOffsets)
      override def write(df: org.apache.spark.sql.DataFrame) = {
        writes.incrementAndGet()
        inner.write(df)
      }
      override def endOffsets(s: SparkSession, topics: Seq[String]) =
        inner.endOffsets(s, topics)
    }
    val to = new ToKafka(bus, new ConnectJsonCodec(keySchema),
      new ConnectJsonCodec(valueSchema))

    def pass(n: Int): (Int, Int) = {
      val root = Files.createTempDirectory(s"sync-jobs-$n").toString
      val pool = Pool.create(spark, root, "PoolJ")
      pool.append(spark.range(n).select(
        struct(lit(s"J$n").as("topic"), col("id").as("offset")).as("kafka"),
        struct(col("id").as("ID")).as("key"),
        struct(lit("c").as("op"), col("id").as("n")).as("value")))
      @volatile var jobs = 0
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
      }
      org.apache.spark.sql.graftbridge.Bridge.waitListenerBusEmpty(spark)
      writes.set(0)
      spark.sparkContext.addSparkListener(l)
      try {
        assert(to.syncOnce(spark, pool, s"J$n") == n.toLong)
        org.apache.spark.sql.graftbridge.Bridge.waitListenerBusEmpty(spark)
      } finally spark.sparkContext.removeSparkListener(l)
      (writes.get, jobs)
    }

    val (w100, j100) = pass(100)
    val (w1000, j1000) = pass(1000)
    assert((w100, w1000) == (1, 1), "one bus write per pass")
    assert(j100 == j1000, s"jobs per pass: $j100 at 100 records, $j1000 at 1000")
  }

  test("from-kafka: registry-avro codec end to end") {
    val bus = new MemoryBus
    val registry = new InMemorySchemaRegistry
    val root = Files.createTempDirectory("sync-avro").toString
    val pool = Pool.create(spark, root, "PoolAv")

    // produce avro-framed messages through the codec itself
    import graft.codecs.ZAvro
    val seed = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(Row("c", 1L)), Row(Row("u", 2L)))),
      StructType(Seq(StructField("value", valueSchema))))
    val framed = seed.select(
      ZAvro.encodeColumn(col("value"), valueSchema, "ns", registry).as("value"))
      .collect().map(_.getAs[Array[Byte]](0))
    framed.foreach(b => bus.publish("A", null, b))

    val from = new FromKafka(bus, RawStringCodec,
      new RegistryAvroCodec(valueSchema, "ns", registry))
    assert(from.syncOnce(spark, Seq("A"), pool) == 2)
    val got = pool.read().select("value.op", "value.n").orderBy("n")
      .collect().map(_.toString).toSeq
    assert(got == Seq("[c,1]", "[u,2]"))
  }
}
