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
  *    but never implemented): per topic, the largest done-offset prefix
  *    CONTIGUOUS from the topic's first input offset is provably
  *    processed, so the input scan skips it (the literal predicate pushes
  *    into parquet min/max pruning — incremental runs read only new
  *    files). The cursor persists in pool metadata with its anchoring
  *    base; a later run distrusts it if the input min drops below the
  *    anchor (late data below the cursor) and scans the whole input — a
  *    pure scan reduction, never a correctness change. The anti-join
  *    still covers out-of-order gaps above the cursor. Each run computes
  *    the prefix once, after the append, from the done rows above the
  *    trusted cursor (or from the input min) plus its own; done offsets
  *    below that anchor are ignored.
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

  private def emptyDone: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("topic",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("offset",
          org.apache.spark.sql.types.LongType))))

  private def doneSetOf(pool: Pool): DataFrame = {
    val out = pool.read()
    if (out.columns.isEmpty || !out.columns.contains(Compiler.TypeCol)) emptyDone
    else out.filter(col(Compiler.TypeCol) === Compiler.Done)
      .select(col("kafka.topic").as("topic"), col("kafka.offset").as("offset"))
  }

  /** Max contiguous done prefix per topic, anchored at `base(topic)`: the
    * largest `x` with every offset in `[base, x]` done. Done offsets below
    * the anchor are ignored; a topic whose anchor itself is not done gets
    * no entry.
    */
  private def contiguousPrefix(done: DataFrame, bases: Map[String, Long]): Map[String, Long] =
    if (bases.isEmpty) Map.empty
    else contiguousPrefixFrame(done, bases)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The lazy (topic, cursor) frame behind [[contiguousPrefix]]; exposed
    * for tests to assert the PLAN (no window) as well as values.
    *
    * A gap join rather than a rank: the distinct done offsets at or above
    * the anchor are left-joined to themselves shifted by one, so an offset
    * whose successor is not done ends a run. Per topic, the prefix exists
    * iff the smallest offset is the anchor, and it ends at the smallest
    * run end. The join partitions on (topic, offset) and the per-topic
    * mins aggregate map-side first, so a legacy pool's whole done history
    * never sorts in one task per topic.
    */
  private[etl] def contiguousPrefixFrame(done: DataFrame,
      bases: Map[String, Long]): DataFrame = {
    import spark.implicits._
    val baseDf = bases.toSeq.toDF("topic", "base")
    val offs = done.select("topic", "offset")
      .join(broadcast(baseDf), Seq("topic"))
      .filter(col("offset") >= col("base"))
      .distinct()
    val next = offs.select(col("topic").as("_n_topic"),
      (col("offset") - 1L).as("_n_prev"))
    offs.join(next, col("topic") === col("_n_topic") &&
        col("offset") === col("_n_prev"), "left")
      .groupBy("topic", "base")
      .agg(min("offset").as("lo"),
        min(when(col("_n_topic").isNull, col("offset"))).as("cursor"))
      .filter(col("lo") === col("base"))
      .select("topic", "cursor")
  }

  /** Everything `run` computes before executing the program — exposed for
    * tests to assert SCAN shape (which files the incremental input read
    * actually plans), not just results. `trusted` holds the persisted
    * (cursor, base) pairs still valid for this input, whose cursors bound
    * the scan; `prunedDone` is the done set above them.
    */
  private[etl] final case class RunPlan(
      prunedIn: DataFrame, prunedDone: DataFrame,
      contBases: Map[String, Long], storeBases: Map[String, Long],
      trusted: Map[String, (Long, Long)]) {
    def cursors: Map[String, Long] = trusted.map { case (t, (c, _)) => t -> c }
  }

  private[etl] def plan(): Option[RunPlan] = {
    val in = inputPool.read()
    if (in.columns.isEmpty) return None

    val dataIn =
      if (in.columns.contains(Compiler.TypeCol)) in.filter(col(Compiler.TypeCol).isNull)
      else in

    val doneSetAll = outputPools.values.map(doneSetOf)
      .reduceOption(_.unionByName(_)).getOrElse(emptyDone)

    // per-topic input min offsets — a parquet-stats-only aggregation — over
    // the topics the transform reads: a pool topic no rule reads never gets
    // a cursor, so counting it here would block the zone-map prune below
    val minMap: Map[String, Long] = dataIn
      .filter(col("kafka.topic").isin(transform.inputs.map(_.topic): _*))
      .groupBy(col("kafka.topic").as("topic")).agg(min("kafka.offset").as("m"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // persisted cursors (the furthest any output pool recorded), validated
    // against their anchoring base
    val persisted: Map[String, (Long, Long)] =
      outputPools.values.map(_.readCursors())
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

    // contiguity anchor per topic: past the trusted cursor, else input min
    val contBases: Map[String, Long] = minMap.map { case (t, m) =>
      t -> cursors.get(t).map(_ + 1L).getOrElse(m)
    }
    val storeBases: Map[String, Long] = minMap.map { case (t, m) =>
      t -> trusted.get(t).map(_._2).getOrElse(m)
    }

    // File-level prune via manifest zone maps: when EVERY input topic has a
    // cursor, a file whose zone max ≤ min(cursors) holds only rows with
    // offset ≤ their topic's cursor — provably done, droppable from the
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
    Some(RunPlan(prunedIn, prunedDone, contBases, storeBases, trusted))
  }

  /** Returns number of records written (data + done), across all pools. */
  def run(): Long = {
    val p = plan().getOrElse(return 0L)
    val (prunedIn, prunedDone) = (p.prunedIn, p.prunedDone)
    val (contBases, storeBases) = (p.contBases, p.storeBases)

    // next producer offsets per out topic, from each topic's own pool.
    // max-reduce, not toMap: if routing changed between runs the same out
    // topic may have rows in more than one pool, and last-wins could pick
    // the stale smaller base and re-issue duplicate offsets.
    val bases: Map[String, Long] = outputPools.values
      .flatMap(_.nextProducerOffsets())
      .groupMapReduce(_._1)(_._2)(math.max)

    // pin: the fused frame is read by multiple plan branches (the renumber
    // window, the bucket-count aggregate, the done-row explode) during the
    // single materialization below; persisting it (and the routed input)
    // runs the scan and joins once instead of once per branch, and the
    // finally below releases them with the result.
    val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val pin: DataFrame => DataFrame = { df =>
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pinned += p
      p
    }
    // bucketing anchor: the smallest offset any surviving input row can
    // carry (per topic, rows are > cursor = contBase − 1, or ≥ input min)
    // — keeps the octave renumber buckets near-zero-based on incremental
    // runs whose offsets sit in a narrow high range (steady state)
    val anchor = if (contBases.nonEmpty) contBases.values.min else 0L
    // batch-span hint for the small-batch renumber fast path: per-topic
    // (input high-water − contiguity base) summed — high-water from the
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
      case high if contBases.nonEmpty && contBases.keySet.subsetOf(high.keySet) =>
        contBases.map { case (t, b) => math.max(0L, high(t) + 1L - b) }.sum
    }
    val result = program.run(prunedIn, prunedDone, bases, pin, anchor,
      batchSpanHint).cache()
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
        // the one done-prefix pass: done above the trusted cursor plus this
        // run's done rows is every done offset at or above each anchor.
        // A distrusted cursor is dropped rather than carried: its anchor
        // sits above the input min for good, so no later run trusts it.
        val newDone = result.filter(col(Compiler.TypeCol) === Compiler.Done)
          .select(col("kafka.topic").as("topic"), col("kafka.offset").as("offset"))
        val prefix = contiguousPrefix(prunedDone.unionByName(newDone), contBases)
        val toStore = p.trusted ++ prefix.map { case (t, c) => t -> (c, storeBases(t)) }
        if (toStore.nonEmpty) outputPools.values.foreach(_.writeCursors(toStore))
      }
      n
    } finally {
      result.unpersist()
      pinned.foreach(_.unpersist())
    }
  }
}
