package graft.etl

import graft.GraftSession
import graft.lake.Pool
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Cursor range-limiting (the optimization the reference designed but never
  * implemented — etl/build.go:9-18): runs stay correct when done-sets have
  * gaps (out-of-order denorm completion), and the contiguous prefix skips
  * re-scanned records.
  */
class CursorSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4)

  val schema: StructType = StructType(Seq(
    StructField("kafka", StructType(Seq(
      StructField("topic", StringType), StructField("offset", LongType)))),
    StructField("key", StructType(Seq(StructField("ID", LongType)))),
    StructField("value", StructType(Seq(
      StructField("op", StringType), StructField("x", LongType))))))

  def rows(offsets: Seq[Long], topics: Seq[String] = Seq("T")): org.apache.spark.sql.DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      for (t <- topics; o <- offsets) yield Row(Row(t, o), Row(o), Row("c", o * 10))), schema)

  val yaml: String =
    """inputs:
      |  - topic: T
      |    pool: Raw
      |output:
      |  topic: O
      |  pool: Staging
      |transforms:
      |  - type: stateless
      |    in: T
      |    out: O
      |    zed: |
      |      | out:={ key: in.key, value: { x: in.value.x } }
      |""".stripMargin

  test("incremental runs with gapped done-sets stay exactly-once") {
    val root = Files.createTempDirectory("cursor").toString
    val raw = Pool.create(spark, root, "Raw")
    val transform = Transform.fromYaml(yaml)

    raw.append(rows(Seq(1L, 2L, 3L)))
    assert(new Pipeline(spark, transform, root).run() == 6) // 3 data + 3 done
    // cursor persisted: contiguous done prefix 1..3 anchored at base 1
    val staging = Pool.open(spark, root, "Staging")
    assert(staging.readCursors() == Map("T" -> (3L, 1L)))

    // out-of-order arrival BELOW the previous anchor: offset 0 lands late —
    // the persisted cursor must be distrusted, not skip offset 0
    raw.append(rows(Seq(0L, 4L)))
    val p2 = new Pipeline(spark, transform, root)
    assert(p2.run() == 4, "late offset 0 and new offset 4 both process")
    // cursor re-anchored at the new min and advanced over 0..4
    assert(staging.readCursors() == Map("T" -> (4L, 0L)))

    // re-run: nothing left
    assert(new Pipeline(spark, transform, root).run() == 0)

    // all five offsets present exactly once in the output
    val out = Pool.open(spark, root, "Staging").read()
    val dataOffsets = out.filter("_type IS NULL")
      .select("value.x").collect().map(_.getLong(0)).sorted.toSeq
    assert(dataOffsets == Seq(0L, 10L, 20L, 30L, 40L))
    val doneOffsets = out.filter("_type = 'done'")
      .select("kafka.offset").collect().map(_.getLong(0)).sorted.toSeq
    assert(doneOffsets == Seq(0L, 1L, 2L, 3L, 4L))
  }

  /** Two commits fully done, then a new batch: the next run's input scan
    * must not even LIST the done commits' files — the zone-map prune, not
    * just parquet row-group stats, keeps the done prefix out of the plan.
    * Every commit carries each of `topics` at the same offsets.
    */
  def zoneMapPrune(name: String, topics: Seq[String]): Unit = {
    val root = Files.createTempDirectory(name).toString
    val raw = Pool.create(spark, root, "Raw")
    val transform = Transform.fromYaml(yaml)

    raw.append(rows(Seq(0L, 1L, 2L), topics))
    raw.append(rows(Seq(3L, 4L, 5L), topics))
    assert(new Pipeline(spark, transform, root).run() == 12)

    raw.append(rows(Seq(6L, 7L), topics))
    val p = new Pipeline(spark, transform, root)
    val plan = p.plan().get
    assert(plan.cursors == Map("T" -> 5L))
    val scanned = plan.prunedIn.inputFiles
    val all = raw.read().inputFiles
    assert(scanned.length < all.length,
      s"zone maps must shrink the file list: ${scanned.length} of ${all.length}")
    assert(p.run() == 4, "the new batch still processes exactly-once")

    // and the result content is unaffected by the file-level prune
    val out = Pool.open(spark, root, "Staging").read()
    assert(out.filter("_type IS NULL").select("value.x")
      .collect().map(_.getLong(0)).sorted.toSeq ==
      (0L to 7L).map(_ * 10).toSeq)
  }

  test("incremental scans drop fully-done FILES via manifest zone maps") {
    zoneMapPrune("cursor-zones", Seq("T"))
  }

  test("a topic no rule reads does not block the zone-map prune") {
    // X never gets a cursor, so it must not count among the topics the
    // prune waits on
    zoneMapPrune("cursor-zones-x", Seq("T", "X"))
  }

  test("legacy-pool cold start: the done-prefix scan parallelizes within a topic") {
    // A pool migrated from another writer has a large done history and NO
    // persisted cursor: the first run computes the contiguous prefix over
    // the ENTIRE done set. A per-topic rank window would sort each topic's
    // history in one task; the gap join needs no window at all and still
    // finds the exact prefix.
    import org.apache.spark.sql.functions.{col, lit}
    val root = Files.createTempDirectory("cursor-cold").toString
    Pool.create(spark, root, "Raw")
    val p = new Pipeline(spark, Transform.fromYaml(yaml), root)

    // topic T: done 0..59999 with a gap at 43210 → cursor 43209
    // topic U: done 100..4099 contiguous (base 100) → cursor 4099
    val done = spark.range(0, 60000).select(lit("T").as("topic"), col("id").as("offset"))
      .filter(col("offset") =!= 43210L)
      .unionByName(spark.range(100, 4100)
        .select(lit("U").as("topic"), col("id").as("offset")))
    val frame = p.contiguousPrefixFrame(done, Map("T" -> 0L, "U" -> 100L))
    val got = frame.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("T" -> 43209L, "U" -> 4099L))

    val wins = graft.PlanTestUtil.windowsIn(frame.queryExecution.executedPlan)
    assert(wins.isEmpty, s"done-prefix plan runs a window: ${wins.map(_.partitionSpec)}")
  }

  test("done offsets below the anchor never extend the prefix") {
    import spark.implicits._
    val root = Files.createTempDirectory("cursor-below").toString
    Pool.create(spark, root, "Raw")
    val p = new Pipeline(spark, Transform.fromYaml(yaml), root)
    // 11 is not done: the prefix anchored at 10 ends at 10, whatever the
    // out-of-range offset 5 does to a rank over the whole set
    val done = Seq(("T", 5L), ("T", 10L), ("T", 12L)).toDF("topic", "offset")
    val got = p.contiguousPrefixFrame(done, Map("T" -> 10L))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("T" -> 10L))
  }

  test("a run that starts without a cursor persists one covering its own output") {
    val root = Files.createTempDirectory("cursor-lost").toString
    val raw = Pool.create(spark, root, "Raw")
    val transform = Transform.fromYaml(yaml)

    raw.append(rows(Seq(1L, 2L, 3L)))
    assert(new Pipeline(spark, transform, root).run() == 6)
    // the cursor is derived metadata: losing it must cost one wider scan,
    // not the cursor itself
    Files.delete(java.nio.file.Paths.get(root, "Staging", "cursors.json"))

    raw.append(rows(Seq(4L)))
    assert(new Pipeline(spark, transform, root).run() == 2)
    assert(Pool.open(spark, root, "Staging").readCursors() == Map("T" -> (4L, 1L)))
  }

  val multiYaml: String =
    """inputs:
      |  - topic: T
      |    pool: Raw
      |output:
      |  topic: O1
      |  pool: StagingA
      |outputs:
      |  - topic: O2
      |    pool: StagingB
      |transforms:
      |  - type: stateless
      |    where: value.x == 20 or value.x == 40
      |    in: T
      |    out: O1
      |    zed: |
      |      | out:={ key: in.key, value: { x: in.value.x } }
      |  - type: stateless
      |    in: T
      |    out: O2
      |    zed: |
      |      | out:={ key: in.key, value: { y: in.value.x } }
      |""".stripMargin

  test("multi-output pools: one scan, rows and done markers split per pool") {
    val root = Files.createTempDirectory("cursor-multi").toString
    val raw = Pool.create(spark, root, "Raw")
    val transform = Transform.fromYaml(multiYaml)

    raw.append(rows(Seq(1L, 2L, 3L, 4L))) // x = 10,20,30,40: evens → O1
    assert(new Pipeline(spark, transform, root).run() == 8) // 4 data + 4 done

    val a = Pool.open(spark, root, "StagingA").read()
    val b = Pool.open(spark, root, "StagingB").read()
    // data rows split by rule out topic
    assert(a.filter("_type IS NULL").select("value.x")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(20L, 40L))
    assert(a.filter("_type IS NULL").select("kafka.topic").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("O1"))
    assert(b.filter("_type IS NULL").select("value.y")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(10L, 30L))
    // done markers live in the pool of the rule that consumed the record
    assert(a.filter("_type = 'done'").select("kafka.offset")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 4L))
    assert(b.filter("_type = 'done'").select("kafka.offset")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))

    // idempotency needs the UNION of both pools' done sets
    assert(new Pipeline(spark, transform, root).run() == 0)
    // cursor over the union reaches 4, persisted on both pools
    assert(Pool.open(spark, root, "StagingA").readCursors() == Map("T" -> (4L, 1L)))
    assert(Pool.open(spark, root, "StagingB").readCursors() == Map("T" -> (4L, 1L)))
  }
}
