package graft.etl

import graft.GraftSession
import graft.lake.{CommitPublisher, Pool}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Cursor range-limiting (the optimization the reference designed but never
  * implemented — etl/build.go:9-18): runs stay correct when done-sets have
  * gaps (out-of-order denorm completion), and the cursor each run reads off
  * its own scan skips re-scanning what it resolved: rows done or consumed
  * by no rule, never a denorm side still waiting for its partner.
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
    // cursor persisted: 1..3 resolved, anchored at base 1
    val staging = Pool.open(spark, root, "Staging")
    assert(staging.readCursors(transform.digest) == Map("T" -> (3L, 1L)))

    // out-of-order arrival BELOW the previous anchor: offset 0 lands late —
    // the persisted cursor must be distrusted, not skip offset 0
    raw.append(rows(Seq(0L, 4L)))
    val p2 = new Pipeline(spark, transform, root)
    assert(p2.run() == 4, "late offset 0 and new offset 4 both process")
    // cursor re-anchored at the new min and advanced over 0..4
    assert(staging.readCursors(transform.digest) == Map("T" -> (4L, 0L)))

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
    assert(Pool.open(spark, root, "Staging").readCursors(transform.digest) ==
      Map("T" -> (4L, 1L)))
  }

  /** `yaml` with a `where` on its one rule. */
  def whereYaml(where: String): String =
    yaml.replace("    in: T\n", s"    where: $where\n    in: T\n")

  test("a record that every rule's where rejects no longer stalls its topic's cursor") {
    val root = Files.createTempDirectory("cursor-where").toString
    val raw = Pool.create(spark, root, "Raw")
    val transform = Transform.fromYaml(whereYaml("value.x != 20"))

    raw.append(rows(Seq(1L, 2L, 3L))) // x = 10, 20, 30: offset 2 matches no rule
    assert(new Pipeline(spark, transform, root).run() == 4) // 2 data + 2 done
    // offset 2 gets no done record, yet nothing waits on it
    val staging = Pool.open(spark, root, "Staging")
    assert(staging.readCursors(transform.digest) == Map("T" -> (3L, 1L)))

    raw.append(rows(Seq(4L)))
    val p = new Pipeline(spark, transform, root)
    assert(p.plan().get.cursors == Map("T" -> 3L))
    assert(p.run() == 2)
    assert(staging.readCursors(transform.digest) == Map("T" -> (4L, 1L)))
  }

  val denormYaml: String =
    """inputs:
      |  - topic: L
      |    pool: Raw
      |  - topic: R
      |    pool: Raw
      |output:
      |  topic: O
      |  pool: Staging
      |transforms:
      |  - type: denorm
      |    left: L
      |    right: R
      |    join-on: left.value.x=right.value.x
      |    out: O
      |    zed: |
      |      | out:={ key: left.key, value: { x: left.value.x } }
      |""".stripMargin

  test("an unpaired denorm side holds its topic's cursor until its partner lands") {
    val root = Files.createTempDirectory("cursor-denorm").toString
    val raw = Pool.create(spark, root, "Raw")
    val transform = Transform.fromYaml(denormYaml)
    val staging = Pool.create(spark, root, "Staging")
    def run(): Long = new Pipeline(spark, transform, root).run()
    def cursors = staging.readCursors(transform.digest)

    raw.append(rows(Seq(1L, 2L, 3L), Seq("L")).unionByName(rows(Seq(1L, 2L), Seq("R"))))
    assert(run() == 6) // 2 pairs: 2 data + 4 done; L3 waits for R3
    // every scanned row went to the denorm rule, so both hold below 1
    assert(cursors == Map("L" -> (0L, 1L), "R" -> (0L, 1L)))
    // nothing new: the paired rows are done now, L3 still waits, and the
    // cursor moves even though the run emits nothing
    assert(run() == 0)
    assert(cursors == Map("L" -> (2L, 1L), "R" -> (2L, 1L)))

    raw.append(rows(Seq(3L), Seq("R")))
    assert(run() == 3) // L3 ⋈ R3: 1 data + 2 done
    assert(cursors == Map("L" -> (2L, 1L), "R" -> (2L, 1L)))
    assert(run() == 0)
    assert(cursors == Map("L" -> (3L, 1L), "R" -> (3L, 1L)), "passes L3 the run after")
    assert(staging.read().filter("_type IS NULL").select("value.x")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(10L, 20L, 30L))
  }

  test("a changed transform distrusts the persisted cursor, as does a legacy file") {
    val narrow = Transform.fromYaml(whereYaml("value.x != 20"))
    val wide = Transform.fromYaml(yaml)
    assert(narrow.digest != wide.digest)
    // narrow resolves 1..3 without consuming 2; wide consumes 2, so its
    // run must not trust narrow's cursor. With `dropCursor` wide runs with
    // no cursor at all: both lakes must end equal.
    def lake(dropCursor: Boolean): Seq[String] = {
      val root = Files.createTempDirectory("cursor-digest").toString
      Pool.create(spark, root, "Raw").append(rows(Seq(1L, 2L, 3L)))
      assert(new Pipeline(spark, narrow, root).run() == 4)
      val cursorFile = java.nio.file.Paths.get(root, "Staging", "cursors.json")
      if (dropCursor) Files.delete(cursorFile)
      val p = new Pipeline(spark, wide, root)
      assert(p.plan().get.cursors.isEmpty)
      assert(p.run() == 2) // offset 2: 1 data + 1 done
      val staging = Pool.open(spark, root, "Staging")
      assert(staging.readCursors(wide.digest) == Map("T" -> (3L, 1L)))
      assert(staging.readCursors(narrow.digest).isEmpty)
      // a file from before digests names no transform: distrusted
      Files.write(cursorFile, """{"T": {"cursor": 3, "base": 1}}""".getBytes)
      assert(staging.readCursors(wide.digest).isEmpty)
      assert(new Pipeline(spark, wide, root).plan().get.cursors.isEmpty)
      staging.read().select("kafka.topic", "kafka.offset", "_type", "value.x")
        .collect().map(_.toString).sorted.toSeq
    }
    val changed = lake(dropCursor = false)
    assert(changed == lake(dropCursor = true))
    assert(changed.count(_.contains("done")) == 3)
  }

  test("a run starts no job for its cursor: none after its last commit") {
    val root = Files.createTempDirectory("cursor-jobs").toString
    val transform = Transform.fromYaml(yaml)
    Pool.create(spark, root, "Raw").append(rows(Seq(1L, 2L, 3L)))
    @volatile var jobs = 0
    var atLastCommit = -1
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    // marks the job count as each manifest publishes
    val marking = new CommitPublisher {
      def publish(target: java.nio.file.Path, tmp: java.nio.file.Path): Boolean = {
        val won = CommitPublisher.HardLink.publish(target, tmp)
        org.apache.spark.sql.graftbridge.Bridge.waitListenerBusEmpty(spark)
        atLastCommit = jobs
        won
      }
    }
    org.apache.spark.sql.graftbridge.Bridge.waitListenerBusEmpty(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(new Pipeline(spark, transform, root, marking).run() == 6)
      org.apache.spark.sql.graftbridge.Bridge.waitListenerBusEmpty(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(atLastCommit > 0, "the run committed under the listener")
    assert(jobs == atLastCommit, s"${jobs - atLastCommit} jobs after the last commit")
    // yet the cursor moved: it came from the jobs before
    assert(Pool.open(spark, root, "Staging").readCursors(transform.digest) ==
      Map("T" -> (3L, 1L)))
  }

  test("a run in which a task attempt failed keeps its cursor") {
    // Spark drops a failed attempt's observed metrics, and a retry that
    // finds the routed partition cached does not observe it again: the
    // denorm minimum could then skip a waiting row. A local session never
    // retries a task, so the failure is posted as the scheduler would.
    val root = Files.createTempDirectory("cursor-attempt").toString
    val raw = Pool.create(spark, root, "Raw")
    val transform = Transform.fromYaml(yaml)
    raw.append(rows(Seq(1L, 2L, 3L)))
    assert(new Pipeline(spark, transform, root).run() == 6)
    val staging = Pool.open(spark, root, "Staging")
    assert(staging.readCursors(transform.digest) == Map("T" -> (3L, 1L)))

    raw.append(rows(Seq(4L, 5L)))
    val failing = new CommitPublisher {
      def publish(target: java.nio.file.Path, tmp: java.nio.file.Path): Boolean = {
        org.apache.spark.sql.graftbridge.TestBus.postKilledAttempt(spark)
        CommitPublisher.HardLink.publish(target, tmp)
      }
    }
    assert(new Pipeline(spark, transform, root, failing).run() == 4)
    assert(staging.readCursors(transform.digest) == Map("T" -> (3L, 1L)),
      "no cursor from a run with a failed attempt")
    // the next clean run scans from the kept cursor and moves it
    assert(new Pipeline(spark, transform, root).run() == 0)
    assert(staging.readCursors(transform.digest) == Map("T" -> (5L, 1L)))
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
    // the one scan resolved 1..4, persisted on both pools
    Seq("StagingA", "StagingB").foreach { pn =>
      assert(Pool.open(spark, root, pn).readCursors(transform.digest) == Map("T" -> (4L, 1L)))
    }
  }
}
