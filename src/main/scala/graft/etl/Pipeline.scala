package graft.etl

import graft.lake.Pool
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Runs a compiled ETL transform between pools with exactly-once,
  * restartable semantics (ref: etl/pipeline.go:27-125).
  *
  * One run: scan input pool → anti-join the output pools' done records →
  * apply rules → renumber offsets from each output topic's high-water mark
  * → one atomic append per output pool (data + done rows together — the
  * transactional consistency trick of the reference design).
  *
  * Two capabilities past the reference:
  *  - **multi-output pools** (the reference panics on more than one
  *    compiled program, etl/pipeline.go:66-68): out topics may route to
  *    different pools via `outputs:`; all rules share one input scan and
  *    the result splits per pool. Atomicity is per pool — same contract as
  *    the reference, which never commits across pools at all.
  *  - **persistent cursor range-limiting** (designed in etl/build.go:9-18
  *    but never implemented): per input topic, a cursor below which every
  *    input row is done or consumed by no rule, so the input scan skips it
  *    (the literal predicate pushes into parquet min/max pruning, and the
  *    manifest zone maps drop whole files). The run reads the new cursor
  *    off its own scan ([[Compiler.Program.resolvedThrough]], observed
  *    inside the action that counts the result — no extra job) and
  *    persists it in every output pool's metadata after the appends,
  *    whenever it moved and no task attempt failed during the run (a
  *    failed attempt can leave the observation partial), with its
  *    anchoring base and the transform's [[Transform.digest]]. A later
  *    run distrusts it, and scans the whole input, when the transform
  *    changed (a row one transform routes to no rule another may consume)
  *    or when the input min dropped below the anchor (late data). A
  *    cursor is a pure scan bound, never a correctness change: the done
  *    records and the anti-join stay the exactly-once mechanism. It
  *    assumes a topic's rows reach the input pool in offset order, as
  *    from-kafka commits them; rows landing below the anchor are caught,
  *    rows landing between anchor and cursor later are not.
  */
final class Pipeline(spark: SparkSession, transform: Transform, root: String,
    publisher: graft.lake.CommitPublisher = graft.lake.CommitPublisher.HardLink) {

  Transform.validate(transform)

  private val inputPoolNames = transform.inputs.map(_.pool).distinct
  require(inputPoolNames.size == 1,
    "all input topics must route through one pool (matches reference constraint)")

  val inputPool: Pool = Pool.open(spark, root, inputPoolNames.head, publisher)

  /** Out-topic → pool name (unlisted topics land in the primary pool). */
  private val topicPoolName: Map[String, String] =
    transform.rules.map(_.out).distinct
      .map(t => t -> transform.poolForTopic(t)).toMap

  // includes the declared primary even when no rule currently routes to it
  // (a program whose rules all target secondary pools must still open the
  // primary for done-set reads and cursor persistence, not crash)
  val outputPools: Map[String, Pool] =
    (topicPoolName.values.toSeq :+ transform.output.pool).distinct
      .map(p => p -> Pool.create(spark, root, p, publisher = publisher)).toMap

  /** Primary output pool (single-output view). */
  val outputPool: Pool = outputPools(transform.output.pool)

  private val program = Compiler.compile(transform)

  private def doneSetOf(pool: Pool): DataFrame = {
    val out = pool.read()
    if (out.columns.isEmpty || !out.columns.contains(Compiler.TypeCol)) Compiler.noneDone(spark)
    else out.filter(col(Compiler.TypeCol) === Compiler.Done)
      .select(col("kafka.topic").as("topic"), col("kafka.offset").as("offset"))
  }

  /** Everything `run` computes before executing the program — exposed for
    * tests to assert SCAN shape (which files the incremental input read
    * actually plans), not just results. `mins` holds each input topic's
    * input min offset; `trusted` the persisted (cursor, base) pairs still
    * valid for this transform and input, whose cursors bound the scan;
    * `prunedDone` is the done set above them.
    */
  private[graft] final case class RunPlan(
      prunedIn: DataFrame, prunedDone: DataFrame,
      mins: Map[String, Long], trusted: Map[String, (Long, Long)]) {
    def cursors: Map[String, Long] = trusted.map { case (t, (c, _)) => t -> c }
    /** Per topic, the smallest offset a scanned row can carry. */
    def scanBases: Map[String, Long] = mins.map { case (t, m) =>
      t -> cursors.get(t).map(_ + 1L).getOrElse(m)
    }
    /** Per topic, the anchor a cursor this run persists is stored with. */
    def anchors: Map[String, Long] = mins.map { case (t, m) =>
      t -> trusted.get(t).map(_._2).getOrElse(m)
    }
  }

  private[graft] def plan(): Option[RunPlan] = {
    val in = inputPool.read()
    if (in.columns.isEmpty) return None

    val dataIn =
      if (in.columns.contains(Compiler.TypeCol)) in.filter(col(Compiler.TypeCol).isNull)
      else in

    val doneSetAll = outputPools.values.map(doneSetOf)
      .reduceOption(_.unionByName(_)).getOrElse(Compiler.noneDone(spark))

    // per-topic input min offsets — a parquet-stats-only aggregation — over
    // the topics the transform reads: a pool topic no rule reads never gets
    // a cursor, so counting it here would block the zone-map prune below
    val minMap: Map[String, Long] = dataIn
      .filter(col("kafka.topic").isin(transform.inputs.map(_.topic): _*))
      .groupBy(col("kafka.topic").as("topic")).agg(min("kafka.offset").as("m"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // persisted cursors of this transform (the furthest any output pool
    // recorded), validated against their anchoring base
    val persisted: Map[String, (Long, Long)] =
      outputPools.values.map(_.readCursors(transform.digest))
        .foldLeft(Map.empty[String, (Long, Long)]) { (acc, m) =>
          m.foldLeft(acc) { case (a, (t, cb)) =>
            a.get(t) match {
              case Some(prev) if prev._1 >= cb._1 => a
              case _ => a + (t -> cb)
            }
          }
        }
    val trusted: Map[String, (Long, Long)] = persisted.filter {
      case (t, (_, base)) => minMap.get(t).forall(_ >= base)
    }
    val cursors: Map[String, Long] = trusted.map { case (t, (c, _)) => t -> c }

    // File-level prune via manifest zone maps: when EVERY input topic has a
    // cursor, a file whose zone max ≤ min(cursors) holds only rows with
    // offset ≤ their topic's cursor — provably resolved, droppable from the
    // FILE LIST before Spark lists or footer-reads it. The per-topic
    // predicates below stay as the exact gate; this only shrinks the scan.
    // Guard: a pruned subset could surface a narrower fused schema than the
    // full pool (mergeSchema over fewer files) — fall back to the full scan
    // if any column would disappear, so downstream resolution never breaks.
    val scanIn: DataFrame =
      if (cursors.nonEmpty && minMap.keySet.subsetOf(cursors.keySet)) {
        val ranged = inputPool.readRange(lower = Some(cursors.values.min + 1L))
        if (in.columns.toSet.subsetOf(ranged.columns.toSet)) {
          if (ranged.columns.contains(Compiler.TypeCol))
            ranged.filter(col(Compiler.TypeCol).isNull)
          else ranged
        } else dataIn
      } else dataIn

    val prunedIn = cursors.foldLeft(scanIn) { case (df, (t, c)) =>
      df.filter(!(col("kafka.topic") === t && col("kafka.offset") <= c))
    }
    val prunedDone = cursors.foldLeft(doneSetAll) { case (df, (t, c)) =>
      df.filter(!(col("topic") === t && col("offset") <= c))
    }
    Some(RunPlan(prunedIn, prunedDone, minMap, trusted))
  }

  /** The frame a run over `p` appends, before the split by pool (its
    * `_outtopic` column names each row's out topic), with the scan
    * observations behind the next cursor. `pin` as in
    * [[Compiler.Program.run]]; `run` pins, a plan dump need not.
    */
  private[graft] def output(p: RunPlan, pin: DataFrame => DataFrame = identity): DataFrame = {
    // next producer offsets per out topic, from each topic's own pool.
    // max-reduce, not toMap: if routing changed between runs the same out
    // topic may have rows in more than one pool, and last-wins could pick
    // the stale smaller base and re-issue duplicate offsets.
    val bases: Map[String, Long] = outputPools.values
      .flatMap(_.nextProducerOffsets())
      .groupMapReduce(_._1)(_._2)(math.max)
    val scanBases = p.scanBases
    // bucketing anchor: the smallest offset any surviving input row can
    // carry — keeps the octave renumber buckets near-zero-based on
    // incremental runs whose offsets sit in a narrow high range
    val anchor = if (scanBases.nonEmpty) scanBases.values.min else 0L
    // batch-span hint for the small-batch renumber fast path: per-topic
    // (input high-water − scan base) summed — high-water from the
    // input pool's #offsets METADATA only (manifestOffsets — no scan; the
    // nextProducerOffsets scan fallback would defeat the point of a
    // driver-known bound). Falls back to None (scale path) when any topic
    // lacks metadata. The span is an upper bound on batch ROWS only
    // because kafka offsets are unique per topic (the broker's contract,
    // and what Pool.append's renumbered output preserves); a pool holding
    // duplicated (topic, offset) pairs would understate the bound and send
    // an oversized batch down the single-window fast path — results stay
    // identical (EtlFastPathSpec pins fast == octave), but the one-task-
    // per-topic window is the parallelism hazard the octave path avoids.
    val batchSpanHint = inputPool.manifestOffsets().collect {
      case high if scanBases.nonEmpty && scanBases.keySet.subsetOf(high.keySet) =>
        scanBases.map { case (t, b) => math.max(0L, high(t) + 1L - b) }.sum
    }
    program.run(p.prunedIn, p.prunedDone, bases, pin, anchor, batchSpanHint)
  }

  /** Returns number of records written (data + done), across all pools. */
  def run(): Long = {
    val p = plan().getOrElse(return 0L)

    // pin: the fused frame is read by multiple plan branches (the renumber
    // window, the bucket-count aggregate, the done-row explode) during the
    // single materialization below; persisting it (and the routed input)
    // runs the scan and joins once instead of once per branch — and fills
    // the scan observations once, in the routed frame's cache — and the
    // finally below releases them with the result.
    val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val pin: DataFrame => DataFrame = { df =>
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pinned += p
      p
    }
    val result = output(p, pin).cache()
    val attempts = new Pipeline.FailedAttempts
    spark.sparkContext.addSparkListener(attempts)
    try {
      val n = result.count()
      if (n > 0) {
        // split by destination pool; per-pool append stays atomic
        outputPools.foreach { case (poolName, pool) =>
          val topics = topicPoolName.collect {
            case (t, p) if p == poolName => t
          }.toSeq
          val part = result.filter(col("_outtopic").isin(topics: _*))
            .drop("_outtopic")
          if (!part.isEmpty) pool.append(part)
        }
      }
      // after the appends, also on a run that emitted nothing: the cursor
      // moves to what this scan resolved. The count filled the observations
      // in the pinned frames' caches; they are read from there, as an
      // empty output can cut the count's adaptive plan off from them. They
      // are complete only if no task attempt failed (see
      // [[Compiler.Program.resolvedThrough]]); with a failed attempt the
      // cursor stays, and the next run scans from it again. A distrusted
      // cursor is dropped, not carried: its anchor sits above the input
      // min for good.
      val observed = pinned.map(_.queryExecution.observedMetrics)
        .foldLeft(Map.empty[String, org.apache.spark.sql.Row])(_ ++ _)
      val moved = program.resolvedThrough(observed)
        .collect { case (t, c) if !p.cursors.get(t).contains(c) => t -> (c, p.anchors(t)) }
      if (moved.nonEmpty && attempts.noneFailed(spark))
        outputPools.values.foreach(_.writeCursors(p.trusted ++ moved, transform.digest))
      n
    } finally {
      spark.sparkContext.removeSparkListener(attempts)
      result.unpersist()
      pinned.foreach(_.unpersist())
    }
  }
}

object Pipeline {

  /** Notes any task attempt that ends without success while registered —
    * in this application, not only in the registering run's jobs, which
    * can only hold a cursor back.
    */
  private final class FailedAttempts extends org.apache.spark.scheduler.SparkListener {
    @volatile private var failed = false

    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      if (e.reason != org.apache.spark.Success) failed = true

    /** No attempt failed up to now. Spark posts a task's end before the
      * job that ran it returns, but delivers it later, so this first waits
      * for the listener bus to deliver what is posted; a wait that times
      * out counts as a failure.
      */
    def noneFailed(spark: SparkSession): Boolean =
      scala.util.Try(org.apache.spark.sql.graftbridge.Bridge.waitListenerBusEmpty(spark))
        .isSuccess && !failed
  }
}
