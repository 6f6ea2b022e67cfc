package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Compiles an ETL [[Transform]] into a DataFrame program — the Spark
  * replacement for the reference's YAML→Zed compiler + lake execution
  * (ref: etl/build.go:20-216, ztests/etl-zed.yaml golden).
  *
  * Semantics reproduced exactly:
  *  - per input topic, drop records already marked done in the output pool
  *    (anti join on (topic, offset) — ref fromTemplate, etl/build.go:111-116)
  *  - switch: each surviving record routes to the FIRST matching rule
  *    (stateless case = where ∧ topic==in; denorm case = where)
  *  - stateless rule emits user-transform(out) + a done record per input
  *    (ref: buildStateless, etl/build.go:163-185)
  *  - denorm rule inner-joins left/right topic streams on the join-on
  *    field paths; emits user-transform(out) with left's kafka meta + done
  *    records for BOTH sides of each joined pair — unjoined records stay
  *    pending until their partner arrives (ref: buildDenorm, :187-216)
  *  - output offsets are assigned densely per output topic in original
  *    kafka.offset order, continuing from the output pool's next producer
  *    offset (ref: insertOffsets, etl/pipeline.go:127-164 — the reference
  *    rewrites ZSON text; here it is one window function)
  *
  * Scale: the entire program is one Catalyst plan — anti join and denorm
  * join shuffle on their keys (or broadcast when the done-set is small),
  * the renumbering window shuffles once on output topic. Nothing touches
  * the driver.
  */
object Compiler {

  /** Envelope column names every pool row carries. */
  val TypeCol = "_type"
  val Done = "done"

  /** Largest batch-span hint that takes the small-batch renumber fast
    * path (see `batchSpanHint` on [[Program.run]]).
    */
  private[etl] val SmallBatchSpan = 4000000L

  /** Names of the two scan observations [[Program.run]] records (see
    * [[Program.resolvedThrough]]): per input topic, the largest
    * offset scanned, and the smallest offset routed to a denorm rule that
    * reads the topic.
    */
  val ScannedMax = "etl_scanned_max"
  val DenormMin = "etl_denorm_min"

  /** An empty (topic, offset) done set. */
  private[etl] def noneDone(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("topic", StringType), StructField("offset", LongType))))

  final case class Program(transform: Transform) {

    private val inputTopics = transform.inputs.map(_.topic).distinct

    /** Input topic → the denorm rules that read it, as `left` or `right`. */
    private val denormRules: Map[String, Seq[Int]] = inputTopics.map { tp =>
      tp -> transform.rules.zipWithIndex.collect {
        case (r, i) if r.ruleType == "denorm" && (r.left == tp || r.right == tp) => i
      }
    }.filter(_._2.nonEmpty).toMap

    /** Per input topic, the highest offset through which the scan of a run
      * left nothing waiting, from the observed metrics of the routed frame
      * once an action has evaluated the run's output.
      *
      * A scanned row is done, or routed to a stateless rule (done by this
      * run), or consumed by no rule (no rule matched, or its first match is
      * a denorm rule on other topics), or routed to a denorm rule that reads
      * its topic — the only rows that can still wait for a partner. So the
      * scan resolved its topic up to the smallest such offset minus one or,
      * with none, up to the largest offset scanned. "Consumed by no rule" is
      * a judgement of THIS transform; callers keep the value with its
      * [[Transform.digest]].
      *
      * A topic the scan saw no row of has no entry, and a missing
      * observation gives no entries at all: an absent value never advances
      * anything. Min and max are idempotent, so a recomputed partition
      * cannot skew them. A PARTLY missing observation can: Spark drops the
      * metrics of a failed task attempt, and a retry that finds the routed
      * partition already cached does not observe it again, so the minimum
      * may skip a waiting row. Callers take no value from a run in which a
      * task attempt failed.
      */
    def resolvedThrough(metrics: Map[String, Row]): Map[String, Long] = {
      def value(r: Row, tp: String): Option[Long] =
        Option(r.get(r.fieldIndex(tp))).map(_.asInstanceOf[Long])
      (metrics.get(ScannedMax), metrics.get(DenormMin)) match {
        case (Some(hi), lo) if lo.isDefined || denormRules.isEmpty =>
          inputTopics.flatMap { tp =>
            lo.filter(_ => denormRules.contains(tp)).flatMap(value(_, tp)).map(_ - 1L)
              .orElse(value(hi, tp)).map(tp -> _)
          }.toMap
        case _ => Map.empty
      }
    }

    /** @param input  envelope rows of the input pool(s), already restricted
      *               to data rows (no done markers)
      * @param doneSet (topic: string, offset: long) pairs already processed
      * @param baseOffsets next producer offset per output topic (missing
      *               topic = 0)
      * @param pin    hook applied to the intermediates the plan reads from
      *               more than one branch (the routed input; the fused
      *               per-rule frame, whose three consumers are the
      *               bucket-count aggregate, the renumber window, and the
      *               done-row explode). Default identity: each branch
      *               re-evaluates its lineage — measured FASTER at bench
      *               scale, where a persist's cache-write cost exceeds the
      *               extra narrow evaluations. A caller whose scan
      *               dominates (Pipeline at lake scale) passes
      *               `_.persist(...)` and unpersists after materializing,
      *               so the input scan and joins run exactly once.
      * @param anchor driver-known lower bound of the batch's input offsets
      *               (Pipeline passes the min of its per-topic contiguity
      *               bases — already computed for cursor pruning, no extra
      *               job). Subtracted before octave bucketing: the octave
      *               scheme spreads keys whose SPAN is proportional to
      *               their MAGNITUDE, so a steady-state incremental batch
      *               with offsets in a narrow high range (say
      *               [1e9, 1e9+1e5]) would land in 1-2 buckets and
      *               renumber on a single task; a constant shift restores
      *               near-zero-based spread while preserving monotonicity
      *               (hence renumber order) and determinism. Never affects
      *               RESULTS — only the parallelism of the renumber window.
      * @param batchSpanHint driver-known upper bound on this batch's row
      *               count (Pipeline: Σ per-topic high-water − contiguity
      *               base, both already read from #offsets metadata — no
      *               scan). When the bound is at or under
      *               [[SmallBatchSpan]] (4M) the
      *               renumber takes the SMALL-BATCH SINGLE-BUCKET fast
      *               path: one row_number window per output topic, no
      *               octave bucketing, no bucket-count aggregate / base
      *               window / broadcast — three fewer materialized
      *               exchanges, each of which costs an AQE
      *               re-optimization sync that dominates wall time on
      *               sync-sized batches (stage sums are single-digit-ms;
      *               see BENCHNOTES round-12 profile). Results are
      *               IDENTICAL to the octave path: bucketing is monotone
      *               in offset, so (bucket asc, offset asc, topic asc)
      *               orders rows exactly like (offset asc, topic asc) and
      *               the cumulative bases telescope into the same dense
      *               numbering. The fast path's one-task-per-topic window
      *               is exactly the hazard the octave scheme exists to
      *               avoid — which is why it gates on a DRIVER-KNOWN
      *               bound, never on a count() job, and an absent or
      *               oversized hint falls through to the scale path.
      *
      * The plan records the scan bounds behind [[resolvedThrough]] as the
      * observations [[ScannedMax]] (on the scanned input, before the
      * anti-join) and [[DenormMin]] (on the routed frame). They cost no job:
      * the action that evaluates the result fills them. With a `pin` that
      * persists, both are evaluated once, and the pinned routed frame's
      * `queryExecution.observedMetrics` reads them back.
      */
    def run(input: DataFrame, doneSet: DataFrame, baseOffsets: Map[String, Long],
        pin: DataFrame => DataFrame = identity, anchor: Long = 0L,
        batchSpanHint: Option[Long] = None): DataFrame = {
      val t = transform
      val schema = input.schema
      def observing(df: DataFrame, name: String, cols: Seq[Column]): DataFrame =
        cols match {
          case c +: rest => df.observe(name, c, rest: _*)
          case _ => df
        }

      // -- anti join against the done set (exactly-once restart safety)
      val scanned = observing(input.filter(col("kafka.topic").isin(inputTopics: _*)),
        ScannedMax, inputTopics.map { tp =>
          max(when(col("kafka.topic") === tp, col("kafka.offset"))).as(tp)
        })
      val undone = scanned
        .join(doneSet.select(col("topic").as("_d_topic"), col("offset").as("_d_offset")),
          col("kafka.topic") === col("_d_topic") && col("kafka.offset") === col("_d_offset"),
          "left_anti")

      // -- switch: first matching rule index per record
      val ruleIdx = t.rules.zipWithIndex.foldRight(lit(-1): Column) {
        case ((r, i), rest) =>
          val cond = r.ruleType match {
            case "stateless" =>
              ZedExpr.predicate(r.where, schema) && col("kafka.topic") === r.in
            case "denorm" => ZedExpr.predicate(r.where, schema)
          }
          when(cond, lit(i)).otherwise(rest)
      }
      val routed = pin(observing(undone.withColumn("_rule", ruleIdx),
        DenormMin, denormRules.toSeq.map { case (tp, rules) =>
          min(when(col("kafka.topic") === tp && col("_rule").isin(rules: _*),
            col("kafka.offset"))).as(tp)
        }))

      // -- per rule: ONE frame carrying the transformed record, the input
      //    kafka meta (renumber order key), and the done-marker kafka
      //    envelopes as an ARRAY (one entry for stateless, left+right for
      //    denorm). Emitting data and done rows from one frame — done rows
      //    explode out of `_donek` at the end — means every downstream
      //    consumer (bucket-count aggregate, renumber window, done-row
      //    branch) reads the SAME narrow frame, so a single pin covers all
      //    of them and the scan + joins run once per materialization.
      // Schemas below are DERIVED from the one `input.schema` probe, never
      // re-asked from the growing DataFrames: every .schema/.columns call
      // mid-build runs the full analyzer on the tree built so far, and the
      // per-rule probes compound into the dominant cost of Program.run on
      // sync-sized batches (measured: plan BUILD ≈ 0.6 s of the gate's
      // ~1.0 s wall at sf0.1 before this was removed — sf-independent).
      val inCols = schema.fieldNames.toSeq
      val wrappedSchema = StructType(Seq(StructField("in", schema)))
      // Layer count matters here, not just probe count: EVERY Dataset
      // transformation analyzes its whole tree eagerly, so a chain of N
      // layers costs O(N²) analyzer passes. Consecutive select/withColumn/
      // drop steps are fused into single selects throughout (the struct
      // projection drops `_rule` by simply not selecting it).
      val parts: Seq[DataFrame] = t.rules.zipWithIndex.map {
        case (r, i) =>
          val matched = routed.filter(col("_rule") === i)
          r.ruleType match {
            case "stateless" =>
              val outAst = ZedExpr.parseOutAssign(r.zed)
              // `in` = the whole input record (ref: yield {in:this})
              val wrapped = matched.select(struct(inCols.map(col): _*).as("in"))
              wrapped.select(
                ZedExpr.toColumn(outAst, wrappedSchema).as("out"),
                col("in.kafka").as("_inkafka"),
                array(struct(col("in.kafka.topic").as("topic"),
                  col("in.kafka.offset").as("offset"))).as("_donek"),
                lit(r.out).as("_outtopic"))

            case "denorm" =>
              val Array(lk, rk) = r.joinOn.split("=").map(_.trim)
              require(lk.nonEmpty && rk.nonEmpty, s"join-on syntax error: ${r.joinOn}")
              val lrows = matched.filter(col("kafka.topic") === r.left)
                .select(struct(inCols.map(col): _*).as("left"))
              val rrows = matched.filter(col("kafka.topic") === r.right)
                .select(struct(inCols.map(col): _*).as("right"))
              val joined = lrows.join(rrows, col(lk) === col(rk), "inner")
              val joinedSchema = StructType(
                Seq(StructField("left", schema), StructField("right", schema)))
              joined.select(
                ZedExpr.toColumn(ZedExpr.parseOutAssign(r.zed), joinedSchema).as("out"),
                col("left.kafka").as("_inkafka"),
                array(
                  struct(col("left.kafka.topic").as("topic"),
                    col("left.kafka.offset").as("offset")),
                  struct(col("right.kafka.topic").as("topic"),
                    col("right.kafka.offset").as("offset"))).as("_donek"),
                lit(r.out).as("_outtopic"))
          }
      }

      // -- fuse rule outputs (heterogeneous out shapes → widened schema);
      //    this fused frame is the one intermediate worth pinning
      val allData = pin(parts.reduce(_.unionByName(_, allowMissingColumns = true)))

      // -- dense offset assignment per output topic, continuing from the
      //    pool high-water mark; ordered by original (offset, topic).
      //
      // Two-phase distributed renumber as ONE lazy Catalyst plan — no
      // driver-side statistics jobs at all:
      //  1. bucket = a pure MONOTONE function of the input offset
      //     ([[graft.functions.OffsetBucketExpr]] octave scheme), so no
      //     min/max job is needed to pick boundaries and the bucketing is
      //     deterministic across re-evaluations;
      //  2. per-(topic, bucket) exclusive bases come from a window over
      //     the bucket-counts AGGREGATE (topics × buckets rows — metadata
      //     scale, so one task per topic over that tiny frame is fine),
      //     broadcast-joined back — O(1) per row and codegen-stable at
      //     any bucket count, where a compiled when-chain would be
      //     O(buckets) deep and blow Janino's 64 KB method cap at
      //     cluster-scale shuffle-partition counts (2000+);
      //  3. row_number windows per (_outtopic, _bkt) — all buckets in
      //     parallel. (offset, topic) is a unique total order per kafka
      //     envelope, so the numbering is deterministic.
      // Zero collect/head: Program.run composes a plan; nothing executes
      // until the caller materializes, and there is no driver sync point
      // between the scan and the append at any scale.
      val baseExpr = baseOffsets.foldLeft(lit(0L)) { case (acc, (topic, base)) =>
        when(col("_outtopic") === topic, lit(base)).otherwise(acc)
      }
      val smallBatch = batchSpanHint.exists(h => h >= 0 && h <= SmallBatchSpan)
      val nb = allData.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      // ≥ 2·partitions sub-ranges per octave → the biggest bucket of a
      // uniform offset range holds ≈ 1/(2·partitions) of the batch.
      val m = OctaveScan.octaveBits(nb)
      val renumbered = if (smallBatch) {
        // small-batch single-bucket fast path (see batchSpanHint scaladoc):
        // the whole topic renumbers in one window partition — identical
        // numbers, none of the bases-chain exchanges
        val w1 = Window.partitionBy(col("_outtopic"))
          .orderBy(col("_inkafka.offset").asc, col("_inkafka.topic").asc)
        allData.select(
          col("out.*"),
          struct(col("_outtopic").as("topic"),
            (row_number().over(w1).cast("long") - 1L + baseExpr).as("offset"))
            .as("kafka"),
          lit(null).cast("string").as(TypeCol),
          col("_outtopic"))
      } else renumberOctave(allData, baseExpr, anchor, m)

      val doneOut = allData.select(
        explode(col("_donek")).as("kafka"),
        lit(Done).as(TypeCol),
        col("_outtopic"))

      renumbered
        .unionByName(doneOut, allowMissingColumns = true)
        .orderBy(col("kafka.offset"))
    }

    /** The scale renumber: octave bucketing + distributed bases (see the
      * step comments above). Split out so the small-batch branch reads as
      * the alternative it is.
      */
    private def renumberOctave(allData: DataFrame, baseExpr: Column,
        anchor: Long, m: Int): DataFrame = {
      // max(anchor, 0) guards a caller passing a sentinel; offsets are
      // non-negative by kafka contract so the shifted key stays ≥ 0
      val withB = allData.withColumn("_bkt",
        graft.functions.OffsetBucketExpr.offsetBucketNative(
          col("_inkafka.offset") - lit(math.max(anchor, 0L)), m))
      // Exclusive scan over the per-(topic,bucket) counts WITHOUT a
      // topic-partitioned window: for a single-output program `_outtopic`
      // is a literal, so partitionBy(_outtopic) constant-folds into an
      // unpartitioned window — one task scanning every bucket row (up to
      // (64−m+1)·2^m of them at cluster-scale m). OctaveScan splits the
      // bucket id back into its octave and scans in two bounded levels.
      val counts = withB.groupBy("_outtopic", "_bkt").count()
      val bases = OctaveScan
        .exclusiveBases(counts, "_outtopic", "_bkt", "count", m, "_bb_base")
        .select(col("_outtopic").as("_bb_topic"), col("_bkt").as("_bb_bkt"),
          col("_bb_base"))
      val w = Window.partitionBy(col("_outtopic"), col("_bkt"))
        .orderBy(col("_inkafka.offset").asc, col("_inkafka.topic").asc)
      // `_outtopic` survives into the result so a multi-pool pipeline can
      // split rows (data AND done markers) by their destination pool; the
      // pipeline drops it before append.
      withB
        .join(broadcast(bases), col("_outtopic") === col("_bb_topic") &&
          col("_bkt") === col("_bb_bkt"), "left")
        .select(
          col("out.*"),
          struct(col("_outtopic").as("topic"),
            (row_number().over(w).cast("long") - 1L +
              coalesce(col("_bb_base"), lit(0L)) + baseExpr).as("offset"))
            .as("kafka"),
          lit(null).cast("string").as(TypeCol),
          col("_outtopic"))
    }
  }

  def compile(t: Transform): Program = {
    Transform.validate(t)
    Program(t)
  }
}
