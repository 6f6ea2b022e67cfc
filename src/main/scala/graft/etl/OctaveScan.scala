package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed exclusive scan over octave-bucketed counts — the shared
  * two-level shape behind the ETL renumber ([[Compiler]]) and
  * [[graft.ml.PackOps]]'s prefix sum.
  *
  * Problem: an exclusive prefix over per-(key, bucket) counts via
  * `sum(...).over(Window.partitionBy(key).orderBy(bucket))` funnels every
  * bucket row of a key through ONE task — and when the key is a literal
  * (single-output ETL programs) the partition spec constant-folds away
  * entirely, leaving an unpartitioned window over up to (64−m+1)·2^m rows.
  *
  * Instead, split the [[graft.functions.OffsetBucketExpr]] bucket id back
  * into its octave (`bucket >> m`, non-foldable) and scan in two bounded
  * levels:
  *
  *  1. within-octave prefix — a window partitioned on (key, octave),
  *     ≤ 2^m rows per partition by construction;
  *  2. octave bases — ≤ 64−m+1 octave totals per key, exclusive-summed by
  *     a triangular self-join (≤ 64² tiny pairs, no window at all).
  *
  * Still zero driver sync points: the result is a lazy metadata-scale
  * frame the caller broadcast-joins back onto the data.
  */
object OctaveScan {

  /** Above this octave-bits setting the per-key bucket-id space,
    * (64−m+1)·2^m, can exceed what one collect_list row should hold
    * (m=14 → ≤ 835k structs ≈ 10 MB; m=16 would allow 38 MB), so the
    * array fast path yields to the two-level window form. m ≤ 14 covers
    * every realistic cluster (m tracks log2(shuffle partitions) + 1, so
    * the threshold is ~8k partitions).
    */
  private[etl] val arrayPathMaxM = 14

  /** For each (key, bucket) row of `counts`, the exclusive running total of
    * `cntCol` over all smaller buckets of the same key, as `baseCol`.
    * `counts` must hold one row per (key, bucket); bucket ids must come
    * from [[graft.functions.OffsetBucketExpr]] with the same `m`.
    * Output columns: keyCol, bktCol, baseCol.
    *
    * Two plan shapes, value-identical (OctaveScanSpec pins equality):
    *  - m ≤ [[arrayPathMaxM]] (any realistic cluster): ONE tiny
    *    aggregation collects each key's sorted (bucket, count) array and
    *    a native O(n) scan ([[graft.functions.PrefixBasesExpr]]) emits the
    *    bases — two metadata-scale shuffles total, no window. This is the
    *    production path; the r14 two-level window form cost ~3 extra AQE
    *    stage syncs per run, a 1.5× regression on q_etl_denorm.
    *  - larger m: the bounded two-level window form (within-octave prefix
    *    + triangular octave join), which never materializes a per-key
    *    array.
    */
  def exclusiveBases(counts0: DataFrame, keyCol: String, bktCol: String,
      cntCol: String, m: Int, baseCol: String): DataFrame =
    if (m <= arrayPathMaxM) arrayBases(counts0, keyCol, bktCol, cntCol, baseCol)
    else windowBases(counts0, keyCol, bktCol, cntCol, m, baseCol)

  /** One aggregation + native prefix scan; see [[exclusiveBases]]. */
  private[etl] def arrayBases(counts0: DataFrame, keyCol: String,
      bktCol: String, cntCol: String, baseCol: String): DataFrame =
    counts0.groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(
        col(bktCol).as("b"), col(cntCol).cast("long").as("c")))).as("_bc"))
      .select(col(keyCol),
        explode(graft.functions.PrefixBasesExpr.prefixBases(col("_bc"))).as("_pb"))
      .select(col(keyCol), col("_pb.bkt").as(bktCol), col("_pb.base").as(baseCol))

  /** Two bounded window levels; see [[exclusiveBases]]. */
  private[etl] def windowBases(counts0: DataFrame, keyCol: String, bktCol: String,
      cntCol: String, m: Int, baseCol: String): DataFrame = {
    val counts = counts0.withColumn("_oct", shiftright(col(bktCol), m))
    val withinOct = counts.withColumn("_in_base",
      coalesce(
        sum(col(cntCol)).over(
          Window.partitionBy(col(keyCol), col("_oct"))
            .orderBy(col(bktCol).asc)
            .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    val octTotals = counts
      .groupBy(col(keyCol).as("_ot_key"), col("_oct").as("_ot_oct"))
      .agg(sum(col(cntCol)).as("_ot_n"))
    val octBases = octTotals
      .select(col("_ot_key").as("_ob_key"), col("_ot_oct").as("_ob_oct"))
      .join(octTotals,
        col("_ob_key") === col("_ot_key") && col("_ot_oct") < col("_ob_oct"),
        "left")
      .groupBy(col("_ob_key"), col("_ob_oct"))
      .agg(coalesce(sum(col("_ot_n")), lit(0L)).as("_ob_base"))
    withinOct
      .join(octBases, col(keyCol) === col("_ob_key") &&
        col("_oct") === col("_ob_oct"))
      .select(col(keyCol), col(bktCol),
        (col("_ob_base") + col("_in_base")).as(baseCol))
  }

  /** The octave-bits parameter matched to a shuffle-partition count: ≥ 2·n
    * sub-ranges per octave so the biggest bucket of a uniform key range
    * holds ≈ 1/(2n) of the rows; capped at 25 (OffsetBucketExpr's Int
    * bucket-id bound).
    */
  def octaveBits(shufflePartitions: Int): Int = math.min(25,
    math.max(6, 32 - java.lang.Integer.numberOfLeadingZeros(
      math.max(shufflePartitions - 1, 1)) + 1))
}
