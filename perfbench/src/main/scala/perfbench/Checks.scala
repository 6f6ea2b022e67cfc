package perfbench

import graft.lake.Pool
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Output checks of one workflow against the generated records. Each
  * check is one operation; it fails on a mismatch or an exception. The
  * expected staging rows come from an independent Spark SQL recomputation
  * of the two rules over the generated records, never from the library.
  */
object Checks {
  final case class Result(name: String, ok: Boolean, detail: String)

  /** Order-independent fingerprint of a frame: rows, distinct `keys`, and
    * the wrapping sum of a 64-bit hash of every row.
    */
  private def fingerprint(df: DataFrame, keys: Seq[String]): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), countDistinct(col(keys.head), keys.tail.map(col): _*),
      coalesce(sum(xxhash64(df.columns.map(col): _*)), lit(0L))).collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def check(name: String)(body: => (Boolean, String)): Result =
    try { val (ok, d) = body; Result(name, ok, d) }
    catch { case e: Exception => Result(name, ok = false, s"threw $e") }

  private def same(name: String, got: DataFrame, want: DataFrame, keys: Seq[String]): Result =
    check(name) {
      val (g, w) = (fingerprint(got, keys), fingerprint(want, keys))
      (g == w && g._1 == g._2, s"got (rows, distinct, hash) $g, want $w")
    }

  def run(spark: SparkSession, wf: Workflow, produced: Seq[Event]): Seq[Result] = {
    import spark.implicits._
    val events = produced.toDF().cache()
    val raw = Pool.open(spark, wf.lakeDir, "Raw")
    val staging = Pool.open(spark, wf.lakeDir, "Staging")
    val rawRows = raw.read()
    val stagingAll = staging.read().cache()
    val stagingData = stagingAll.filter(col("_type").isNull)
    def field(c: String, f: String): Column =
      if (stagingAll.schema(c).dataType.asInstanceOf[StructType].fieldNames.contains(f))
        col(s"$c.$f") else lit(null)

    // independent recomputation of the two rules
    val views = events.filter($"topic" === "view")
    val pairs = events.filter($"topic" === "purchase").as("p")
      .join(events.filter($"topic" === "signup").as("s"), $"p.ref" === $"s.offset")
    val activity = views.select(lit("Activity").as("topic"),
      (row_number().over(Window.orderBy($"offset")) - 1).cast("long").as("offset"),
      $"user", $"user".as("vuser"), $"v", $"k", lit(null).cast("double").as("amount"),
      lit(null).cast("long").as("signup_user"), lit(null).cast("long").as("signup_offset"))
    val enriched = pairs.select(lit("Enriched").as("topic"),
      (row_number().over(Window.orderBy(greatest($"p.pass", $"s.pass"), $"p.offset")) - 1)
        .cast("long").as("offset"),
      $"p.user", $"p.user".as("vuser"), lit(null).cast("double").as("v"), $"p.k",
      $"p.v".as("amount"), $"s.user".as("signup_user"), $"s.offset".as("signup_offset"))
    val wantStaging = activity.unionByName(enriched)
    val gotStaging = stagingData.select(col("kafka.topic").as("topic"),
      col("kafka.offset").as("offset"), col("key.user").as("user"),
      field("value", "user").as("vuser"), field("value", "v").as("v"),
      field("value", "k").as("k"), field("value", "amount").as("amount"),
      field("value", "signup_user").as("signup_user"),
      field("value", "signup_offset").as("signup_offset"))

    val wantDone = views.select($"topic", $"offset")
      .unionByName(pairs.select($"p.topic", $"p.offset"))
      .unionByName(pairs.select($"s.topic", $"s.offset"))
    val gotDone = stagingAll.filter(col("_type") === "done")
      .select(col("kafka.topic").as("topic"), col("kafka.offset").as("offset"))

    val busEnd = wf.fileBus.endOffsets(Generator.Topics)
    val results = Seq(
      same("raw_holds_produced",
        rawRows.select(col("kafka.topic").as("topic"), col("kafka.offset").as("offset"),
          col("key.user"), col("value.v"), col("value.k"), col("value.ref")),
        events.select($"topic", $"offset", $"user", $"v", $"k", $"ref"),
        Seq("topic", "offset")),
      check("raw_max_offset_is_bus_end") {
        val got = rawRows.groupBy(col("kafka.topic")).agg(max(col("kafka.offset")))
          .collect().map(r => r.getString(0) -> (r.getLong(1) + 1)).toMap
        val want = busEnd.filter(_._2 > 0)
        (got == want, s"raw max+1 $got, bus end $want")
      },
      same("staging_matches_rules", gotStaging, wantStaging, Seq("topic", "offset")),
      same("one_done_per_input", gotDone, wantDone, Seq("topic", "offset"))) ++
      Workflow.OutTopics.map { t =>
        val st = stagingData.filter(col("kafka.topic") === t)
        val valueType = stagingAll.schema("value").dataType
        val keyType = stagingAll.schema("key").dataType
        def payload(c: String, dt: org.apache.spark.sql.types.DataType): Column =
          from_json(get_json_object(col(c).cast("string"), "$.payload"), dt.asInstanceOf[StructType])
        val onBus = wf.fileBus.readBatch(spark, Seq(t), Map.empty)
          .select(col("offset"), payload("key", keyType).as("key"),
            to_json(payload("value", valueType)).as("value"))
        same(s"bus_${t}_equals_staging", onBus,
          st.select(col("kafka.offset").as("offset"), col("key"), to_json(col("value")).as("value")),
          Seq("offset"))
      }
    stagingAll.unpersist()
    events.unpersist()
    results
  }
}
