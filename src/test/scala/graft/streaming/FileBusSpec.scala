package graft.streaming

import graft.GraftSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** FileBus is the durable CLI transport (Main produce / from-kafka
  * workflows), so its write path must stream the frame through the driver
  * partition-by-partition (`toLocalIterator`, like the consume paths) —
  * never `collect()` it whole. These pin the streaming semantics a
  * collect() cannot produce, plus the ordered round trip at a size that
  * matters.
  */
class FileBusSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  test("large produce round-trips in _off order with exact counts") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("filebus-large").toString
    val bus = new FileBus(root)
    val n = 2000
    val df = (0 until n).map(i => ("big", i.toLong, s"k$i", f"v$i%05d"))
      .toDF("topic", "_off", "key", "value")
      .repartition(8) // partitions deliberately scrambled; _off sort restores
    val counts = bus.write(df)
    assert(counts == Map("big" -> n.toLong))
    assert(bus.endOffsets(Seq("big")) == Map("big" -> n.toLong))
    val back = bus.readBatch(spark, Seq("big"), Map("big" -> 0L))
      .orderBy("offset").select(col("value").cast("string")).collect()
      .map(_.getString(0)).toSeq
    assert(back == (0 until n).map(i => f"v$i%05d"))
  }

  test("concurrent multi-producer publishes land every record exactly once") {
    // the CAS loop changed in r15 (batch writers carry an offset cursor;
    // collisions re-list and resume): racing producers must still get
    // dense, exclusive offsets with no record lost or doubled
    val root = java.nio.file.Files.createTempDirectory("filebus-race").toString
    val bus = new FileBus(root)
    val threads = 4
    val per = 50
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = (0 until threads).map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
          def call(): Seq[Long] = (0 until per).map(i =>
            bus.publish("race", s"$t".getBytes, s"$t-$i".getBytes))
        })
      }
      val offs = futures.flatMap(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(offs.toSet.size == threads * per, "duplicate offsets handed out")
      assert(offs.toSet == (0L until (threads * per).toLong).toSet, "offsets not dense")
      val back = bus.readBatch(spark, Seq("race"), Map("race" -> 0L))
        .select(col("value").cast("string")).collect().map(_.getString(0)).toSet
      assert(back == (for (t <- 0 until threads; i <- 0 until per) yield s"$t-$i").toSet)
    } finally pool.shutdownNow()
  }

  test("write streams partitions: rows published before a failure persist") {
    // With the old collect(), a failure ANYWHERE in the frame meant zero
    // records hit disk (the whole frame materialized before the publish
    // loop). The streaming write walks partitions in order, so partition
    // 0's records are read before partition 1 is even computed, and the
    // failure publishes what was read before it surfaces — Kafka produce
    // semantics (acked records stay delivered).
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("filebus-fail").toString
    val bus = new FileBus(root)
    val rdd = spark.sparkContext.parallelize(0 until 20, 2)
      .mapPartitionsWithIndex { (i, it) =>
        if (i == 1) throw new RuntimeException("mid-stream failure")
        it.map(j => ("part", s"k$j", s"v$j"))
      }
    val df = rdd.toDF("topic", "key", "value")
    val e = intercept[Throwable] { bus.write(df) }
    val messages = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(messages.contains("mid-stream failure"), messages)
    // partition 0 (rows 0..9) was published before the failure surfaced
    assert(bus.endOffsets(Seq("part")) == Map("part" -> 10L),
      "streaming write should have published partition 0 before failing")
  }

  test("write links a segment's names in order; a lost race moves the rest to a new segment") {
    // 1500 records: the first segment (1024) publishes at 0..1023 while
    // partition 2 is read; partition 3 then plants another producer's
    // single-record file (the older layout) at 1100, so the second
    // segment links 1024..1099, loses the race at 1100 and puts its last
    // 400 records in a new segment at 1101..1500
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("filebus-seg").toString
    val bus = new FileBus(root)
    val topicDir = java.nio.file.Paths.get(root, "seg")
    val planted = topicDir.resolve("000000001100.rec").toString
    val n = 1500
    val df = spark.sparkContext.parallelize(0 until n, 4)
      .mapPartitionsWithIndex { (i, it) =>
        if (i == 3) {
          val rec = java.nio.ByteBuffer.allocate(4 + 5).putInt(-1).put("other".getBytes).array()
          java.nio.file.Files.write(java.nio.file.Paths.get(planted), rec)
        }
        it.map(j => ("seg", s"k$j", f"v$j%04d"))
      }.toDF("topic", "key", "value")
    assert(bus.write(df) == Map("seg" -> n.toLong))
    assert(bus.endOffsets(Seq("seg")) == Map("seg" -> (n + 1L)))
    val back = bus.readBatch(spark, Seq("seg"), Map.empty)
      .orderBy("offset").select(col("offset"), col("key").cast("string"),
        col("value").cast("string")).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getString(2))).toSeq
    val mine = (0 until n).map(j => (Some(s"k$j"), f"v$j%04d"))
    val want = (mine.take(1100).zipWithIndex.map { case ((k, v), o) => (o.toLong, k, v) } :+
      ((1100L, None, "other"))) ++
      mine.drop(1100).zipWithIndex.map { case ((k, v), i) => (1101L + i, k, v) }
    assert(back == want)
    // four files behind the 1501 names: the first segment, the cut second
    // one, the planted record and the moved rest
    val files = java.nio.file.Files.list(topicDir).iterator.asScala.toSeq
    assert(files.count(_.getFileName.toString.endsWith(".rec")) == n + 1)
    assert(files.map(p => java.nio.file.Files.readAttributes(p,
      classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()).distinct.size == 4)
  }
}
