package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory with the configuration every graft job needs.
  *
  * Scale notes (100 TB target):
  *  - AQE on: runtime coalescing of shuffle partitions + skew-join splitting,
  *    so the same plan survives sf0.001 smoke tests and 1000-executor runs.
  *  - `nanosAsLong`: the events table carries ns-precision timestamps which
  *    Spark's vectorized parquet reader otherwise rejects; we read them as
  *    LongType (ns since epoch) and convert explicitly (see Tables.eventTime).
  *  - shuffle.partitions is a *default*; AQE coalesces it down. On a real
  *    cluster this should be ~2-3x total cores; callers override via `cpus`.
  */
object GraftSession {

  /** Runtime SQL confs every graft session carries, applied by both
    * [[builder]] and [[tune]].
    */
  private[graft] val runtimeConfs: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // Spark 4 defaults ANSI on; graft's hash pipelines rely on wrapping
    // 64-bit arithmetic (minhash/rolling-hash) and permissive casts.
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.parquet.filterPushdown" -> "true",
    "spark.sql.parquet.aggregatePushdown" -> "true",
    // BloomFilterAggregate SILENTLY clamps its numItems/numBits args to
    // these confs (Math.min against SQLConf — defaults 4M items / 67M
    // bits): a history-sized dedup filter would stop growing past ~7M
    // items with no error and saturate (FPR blows the bound) at the next
    // scale rung. Raise the ceilings to graft's real per-filter cap
    // (2^31 bits = 256 MB, ~220M items at 9.6 bits/item); DedupOps
    // asserts its sizing stays below the session's values so an
    // oversized request fails loudly instead of clamping.
    "spark.sql.optimizer.runtime.bloomFilter.maxNumItems" ->
      (400L * 1000 * 1000).toString,
    "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" -> Int.MaxValue.toString,
    "spark.sql.autoBroadcastJoinThreshold" -> (64L << 20).toString,
    // Local test data is ONE parquet file per table; at the default
    // 128 MiB split size a 50 MiB documents table scans as a single
    // task and every CPU-heavy per-row stage (tokenize, shingle, JSON
    // parse) serializes on one core of 32. 8 MiB splits restore scan
    // parallelism for single-file tables; on a real cluster with
    // thousands of files per table the default would be fine either way
    // (row-group boundaries, not files, set the floor here). Both knobs
    // are env-overridable for cluster deployments (large sequential
    // scans on many-file tables want 512 MiB–1 GiB splits to cut
    // task-scheduling overhead and the map-task count feeding any
    // shuffle); the local defaults keep local bench numbers comparable.
    "spark.sql.files.maxPartitionBytes" ->
      sys.env.getOrElse("GRAFT_MAX_PARTITION_BYTES", (8L << 20).toString),
    "spark.sql.files.openCostInBytes" ->
      sys.env.getOrElse("GRAFT_OPEN_COST_BYTES", (1L << 20).toString))

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    runtimeConfs.foldLeft(SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)) {
      case (b, (k, v)) => b.config(k, v)
    }.config("spark.ui.enabled", "false")
      // static, so builder-only. Spark's default cache of 100 generated
      // classes (split over its cache segments) is smaller than one
      // from-kafka, ETL, to-kafka pass's 70 to 100 classes: each pass would
      // recompile, and re-JIT, tens of classes compiled before, how many
      // depending on the order its stages run in
      .config("spark.sql.codegen.cache.maxEntries", "256")

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(s"local[$cores]", math.max(cores, 8)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Idempotently apply graft runtime confs to an externally-built session
    * (Verify/Bench construct their own). Static confs (master etc.) untouched.
    */
  def tune(spark: SparkSession): SparkSession = {
    runtimeConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    GraftExtensions.install(spark)
    spark
  }
}
