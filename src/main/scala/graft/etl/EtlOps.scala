package graft.etl

import graft.GQuery
import graft.sources.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ETL pipeline exercised through the correctness gate: the events table is
  * mapped to a CDC-envelope stream (kafka.topic = event_type, kafka.offset
  * = event_id) and pushed through the real [[Compiler]] — anti-join done
  * set, first-match switch, denorm join, dense offset renumbering — with a
  * DuckDB oracle reproducing the identical semantics in SQL.
  */
object EtlOps {

  private def cdcInput(s: SparkSession, d: String): DataFrame =
    events(s, d).select(
      struct(col("event_type").as("topic"), col("event_id").cast("long").as("offset"))
        .as("kafka"),
      struct(col("user_id").as("user")).as("key"),
      struct(col("value").as("v"),
        get_json_object(col("props"), "$.k").cast("long").as("k")).as("value"))

  /** Driver-known batch bound for the renumber small-batch fast path: the
    * input offset span read straight from the parquet footers (driver
    * metadata read, zero Spark jobs — the same class of driver action as
    * Pipeline's cursor metadata). The gate models one bounded CDC sync
    * batch; Pipeline derives the equivalent hint from pool #offsets
    * metadata. Past the configured span cap (e.g. the sf100 rung's
    * 100M-row events table) the hint makes Program.run fall through to
    * the octave scale path by itself; so does a missing-stats None.
    */
  private def spanHint(s: SparkSession, d: String): Option[Long] =
    graft.sources.Tables.footerLongStats(s, s"$d/events.parquet", "event_id")
      .map { case (lo, hi) => hi - lo + 1L }

  private def flatten(df: DataFrame): DataFrame =
    df.select(
      col("key.user").as("key_user"),
      col("value.amount").as("amount"),
      col("kafka.topic").as("topic"),
      col("kafka.offset").as("offset"),
      col("_type"))

  // ---- stateless rules + switch first-match + anti-join + renumber -------
  private val statelessYaml =
    """inputs:
      |  - topic: purchase
      |    pool: Raw
      |output:
      |  topic: Out
      |  pool: Staging
      |transforms:
      |  - type: stateless
      |    where: value.v > 100
      |    in: purchase
      |    out: Out
      |    zed: |
      |      | out:={ key: in.key, value: { amount: in.value.v } }
      |  - type: stateless
      |    in: purchase
      |    out: Out2
      |    zed: |
      |      | out:={ key: in.key, value: { amount: in.value.v } }
      |""".stripMargin

  private val qEtlStateless = GQuery(
    "q_etl_stateless",
    (s, d) => {
      val input = cdcInput(s, d)
      // simulate a prior run: every third offset already marked done
      val doneSet = events(s, d).filter(col("event_type") === "purchase" &&
        col("event_id") % 3 === 0)
        .select(col("event_type").as("topic"), col("event_id").cast("long").as("offset"))
      val program = Compiler.compile(Transform.fromYaml(statelessYaml))
      flatten(program.run(input, doneSet, Map("Out" -> 1000L),
        batchSpanHint = spanHint(s, d)))
    },
    Some("""WITH cdc AS (SELECT event_type AS t, event_id AS o, user_id AS u, value AS v
                         FROM events
                         WHERE event_type = 'purchase' AND event_id % 3 <> 0),
                 r1 AS (SELECT * FROM cdc WHERE v > 100),
                 r2 AS (SELECT * FROM cdc WHERE NOT (v > 100)),
                 d1 AS (SELECT u, v, CAST(1000 + row_number() OVER (ORDER BY o) - 1 AS BIGINT) AS o2 FROM r1),
                 d2 AS (SELECT u, v, CAST(row_number() OVER (ORDER BY o) - 1 AS BIGINT) AS o2 FROM r2)
            SELECT u AS key_user, v AS amount, 'Out' AS topic, o2 AS offset,
                   CAST(NULL AS VARCHAR) AS _type FROM d1
            UNION ALL
            SELECT u, v, 'Out2', o2, NULL FROM d2
            UNION ALL
            SELECT NULL, NULL, t, CAST(o AS BIGINT), 'done' FROM cdc"""),
    headline = true)

  // ---- denorm join + pairwise done records -------------------------------
  private val denormYaml =
    """inputs:
      |  - topic: purchase
      |    pool: Raw
      |  - topic: signup
      |    pool: Raw
      |output:
      |  topic: OutD
      |  pool: Staging
      |transforms:
      |  - type: denorm
      |    left: purchase
      |    right: signup
      |    join-on: left.value.k=right.kafka.offset
      |    out: OutD
      |    zed: |
      |      | out:={
      |          key: left.key,
      |          value: { amount: left.value.v, signup_user: right.key.user }
      |        }
      |""".stripMargin

  private val qEtlDenorm = GQuery(
    "q_etl_denorm",
    (s, d) => {
      // no span hint here: a SINGLE-output program's fast-path window
      // would constant-fold its partition spec (_outtopic = lit) into
      // exactly the global-window shape PlanAuditSpec bans — the octave
      // path keeps the denorm gate's renumber parallel
      val program = Compiler.compile(Transform.fromYaml(denormYaml))
      program.run(cdcInput(s, d), Compiler.noneDone(s), Map.empty)
        .select(
          col("key.user").as("key_user"),
          col("value.amount").as("amount"),
          col("value.signup_user").as("signup_user"),
          col("kafka.topic").as("topic"),
          col("kafka.offset").as("offset"),
          col("_type"))
    },
    Some("""WITH cdc AS (SELECT event_type AS t, event_id AS o, user_id AS u, value AS v,
                                CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
                         FROM events WHERE event_type IN ('purchase', 'signup')),
                 l AS (SELECT * FROM cdc WHERE t = 'purchase'),
                 r AS (SELECT * FROM cdc WHERE t = 'signup'),
                 j AS (SELECT l.o AS lo, l.u AS lu, l.v AS lv, r.o AS ro, r.u AS ru
                       FROM l JOIN r ON l.k = r.o),
                 data AS (SELECT lu, lv, ru,
                                 CAST(row_number() OVER (ORDER BY lo) - 1 AS BIGINT) AS o2
                          FROM j)
            SELECT lu AS key_user, lv AS amount, ru AS signup_user, 'OutD' AS topic,
                   o2 AS offset, CAST(NULL AS VARCHAR) AS _type FROM data
            UNION ALL
            SELECT NULL, NULL, NULL, 'purchase', CAST(lo AS BIGINT), 'done' FROM j
            UNION ALL
            SELECT NULL, NULL, NULL, 'signup', CAST(ro AS BIGINT), 'done' FROM j"""),
    headline = true)

  val queries: Seq[GQuery] = Seq(qEtlStateless, qEtlDenorm)
}
