package graft.etl

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The small-batch single-bucket renumber fast path must be a pure
  * PARALLELISM choice: identical rows to the octave scale path (the
  * bucketing is monotone in offset, so the two numberings telescope to
  * the same dense assignment), chosen only by the driver-known span hint,
  * and absent from the plan when the hint is missing or over the cap.
  */
class EtlFastPathSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4)

  private val yaml =
    """inputs:
      |  - topic: a
      |    pool: Raw
      |output:
      |  topic: OutHi
      |  pool: Staging
      |transforms:
      |  - type: stateless
      |    where: value.v > 10
      |    in: a
      |    out: OutHi
      |    zed: |
      |      | out:={ key: in.key, value: { amount: in.value.v } }
      |  - type: stateless
      |    in: a
      |    out: OutLo
      |    zed: |
      |      | out:={ key: in.key, value: { amount: in.value.v } }
      |""".stripMargin

  private def input: DataFrame =
    // parquet-backed (not a local Seq): ConvertToLocalRelation would fold
    // a LocalRelation input straight through the renumber and erase the
    // plan shapes this spec pins
    graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select(
        struct(lit("a").as("topic"), col("event_id").cast("long").as("offset")).as("kafka"),
        struct(col("user_id").as("user")).as("key"),
        struct(col("value").as("v")).as("value"))

  private def emptyDone: DataFrame = {
    import spark.implicits._
    Seq.empty[(String, Long)].toDF("topic", "offset")
  }

  private def run(hint: Option[Long]): Seq[String] = {
    val program = Compiler.compile(Transform.fromYaml(yaml))
    program.run(input, emptyDone, Map("OutHi" -> 500L), batchSpanHint = hint)
      .select(col("kafka.topic"), col("kafka.offset"), col("_type"),
        col("key.user"), col("value.amount"))
      .collect().map(_.toString).toSeq
  }

  private def planOf(hint: Option[Long]): String = {
    val program = Compiler.compile(Transform.fromYaml(yaml))
    program.run(input, emptyDone, Map("OutHi" -> 500L), batchSpanHint = hint)
      .queryExecution.executedPlan.toString
  }

  test("fast path emits exactly the octave path's rows") {
    val slow = run(None)
    val fast = run(Some(5000L))
    assert(fast == slow)
    assert(slow.nonEmpty)
  }

  test("the hint picks the path: no octave bucketing under the cap, octave above it") {
    assert(!planOf(Some(5000L)).contains("offset_bucket"))
    assert(planOf(None).contains("offset_bucket"))
    assert(planOf(Some(Compiler.SmallBatchSpan + 1L)).contains("offset_bucket"))
  }
}
