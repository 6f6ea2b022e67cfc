package graft.lake

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** A data pool: an append-only table sorted by a pool key, with atomic
  * commits — the Spark-side equivalent of a Zed lake pool
  * (ref: etl/pool.go:26-58, fifo/lake.go:24-60).
  *
  * Layout:
  * {{{
  *   <root>/<name>/
  *     pool.json            — {"key": "kafka.offset"} (created once)
  *     data/c<commit>-*.parquet
  *     _commits/<seq>.txt   — newline-separated relative file list; a commit
  *                            exists iff its manifest file exists (atomic
  *                            via write-temp + ATOMIC_MOVE rename)
  * }}}
  *
  * Readers union the files of all visible manifests with mergeSchema, so
  * heterogeneous commits (data rows + done rows of different shapes) fuse
  * into one wide schema — the marker-column strategy for Zed's per-record
  * named types (SURVEY §7).
  *
  * Scale: one manifest per commit, O(1) listing per read via the _commits
  * dir only; data files can be thousands of partitioned parquet parts.
  * Appends are multi-writer safe (nonce'd file names + create-exclusive
  * manifest publication, see [[append]]) — past the reference's
  * single-writer decree (README.md:148-155,168-177); compaction aborts if
  * it loses the race (see [[compact]]). Publication goes through the
  * pluggable [[CommitPublisher]] create-if-absent primitive — hard link on
  * POSIX (default), conditional PUT on object stores.
  */
final class Pool private (val spark: SparkSession, val name: String,
    val root: Path, val key: String,
    val publisher: CommitPublisher = CommitPublisher.HardLink) {

  private def commitsDir = root.resolve("_commits")
  private def dataDir = root.resolve("data")

  /** Manifest-listing counter (metrics/test seam): callers like
    * ToKafka.syncOnce promise one listing per sync pass.
    */
  val manifestListings = new java.util.concurrent.atomic.AtomicLong

  /** Parquet-data-read counter (test seam): metadata-backed paths like
    * [[nextProducerOffsets]] promise NO data scan on a metadata-bearing
    * pool — resume cost must stay O(commits), not O(pool), at 100 TB.
    */
  val dataReads = new java.util.concurrent.atomic.AtomicLong

  private def manifests(): Seq[Path] = {
    manifestListings.incrementAndGet()
    if (!Files.isDirectory(commitsDir)) Nil
    else Files.list(commitsDir).iterator.asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".txt")).sortBy(_.getFileName.toString)
  }

  /** The manifests visible in a log prefix: a manifest whose first line is
    * `#compact` supersedes all earlier manifests (it lists the rewritten
    * files of the whole pool up to that commit), so readers start from the
    * latest compact manifest.
    */
  private def visible(log: Seq[Path]): Seq[Path] = {
    val lastCompact = log.lastIndexWhere { m =>
      val r = Files.newBufferedReader(m)
      try r.readLine() == "#compact" finally r.close()
    }
    if (lastCompact < 0) log else log.drop(lastCompact)
  }

  private def visibleManifests(): Seq[Path] = visible(manifests())

  private def filesOf(manifests: Seq[Path]): Seq[String] =
    manifests
      .flatMap(m => Files.readAllLines(m).asScala.filterNot(_.startsWith("#")))
      .map(rel => dataDir.resolve(rel).toString)

  private def committedFiles(): Seq[String] = filesOf(visibleManifests())

  /** The one data reader: a file set's rows under the schema fused across
    * its files, or an empty frame for no files.
    */
  private def readFiles(files: Seq[String]): DataFrame =
    if (files.isEmpty) spark.emptyDataFrame
    else {
      dataReads.incrementAndGet()
      spark.read.option("mergeSchema", "true").parquet(files: _*)
    }

  /** Read only the files whose zone map can overlap `[lower, upper]`
    * (inclusive; None = unbounded) on the pool key. Returns a SUPERSET of
    * `read().filter(key in range)`: files lacking zone-map metadata are
    * always kept, and kept files may hold out-of-range rows — callers keep
    * their exact predicate on top. The value is the file-LIST prune: a
    * resume-style tail scan (`offset >= hwm`) on a 100 TB pool opens only
    * the tail files, instead of handing Spark every file for listing +
    * footer reads before parquet row-group pruning can even start —
    * the reference's index-range cost (fifo/lake.go:62-82).
    */
  def readRange(lower: Option[Long] = None, upper: Option[Long] = None): DataFrame = {
    val lines = visibleManifests().map(m => Files.readAllLines(m).asScala.toSeq)
    val zones = lines.flatMap(parseRanges).toMap
    val kept = lines.flatten.filterNot(_.startsWith("#")).filter { rel =>
      zones.get(rel) match {
        case Some((lo, hi)) => lower.forall(_ <= hi) && upper.forall(_ >= lo)
        case None => true // no zone map for this file — never prune it
      }
    }.map(rel => dataDir.resolve(rel).toString)
    readFiles(kept)
  }

  def isEmpty: Boolean = committedFiles().isEmpty

  /** Read the full pool (fused schema across commits). */
  def read(): DataFrame = readFiles(committedFiles())

  /** Commit ids in order (visible history). */
  def commits(): Seq[String] =
    manifests().map(_.getFileName.toString.stripSuffix(".txt"))

  /** Snapshot read as of a commit id (inclusive) — manifests are immutable,
    * so any historical prefix of the log is a consistent snapshot as long
    * as vacuum hasn't collected its files.
    */
  def readAsOf(commitId: String): DataFrame =
    readFiles(filesOf(visible(
      manifests().filter(_.getFileName.toString.stripSuffix(".txt") <= commitId))))

  /** Atomically append one batch: data files first, then one manifest
    * publication makes them visible (ref: fifo/lake.go:58-60 LoadBatch).
    * The batch is sorted within partitions by the pool key so parquet
    * min/max stats make key-range scans cheap.
    *
    * Concurrent-writer safe: data files carry a per-writer nonce (no name
    * collisions), and the manifest publishes via create-exclusive hard
    * link — the CAS a plain rename can't provide, since POSIX rename
    * silently REPLACES an existing target and would drop the losing
    * writer's commit. A loser re-reads the log, takes the next sequence
    * number, and republishes the same file list.
    */
  def append(df: DataFrame): String = {
    Files.createDirectories(dataDir)
    Files.createDirectories(commitsDir)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val staging = root.resolve(s"_staging-$nonce")
    val sorted = scala.util.Try(df(key)).toOption
      .map(df.sortWithinPartitions(_)).getOrElse(df)
    sorted.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    val parts = Files.list(staging).iterator.asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet"))
    val names = parts.zipWithIndex.map { case (p, i) =>
      val nm = s"c$nonce-$i.parquet"
      Files.move(p, dataDir.resolve(nm), StandardCopyOption.ATOMIC_MOVE)
      nm
    }
    // Record this commit's per-topic max kafka.offset in the manifest so
    // resume/next-offset queries read commit metadata instead of scanning
    // the pool — the reference's index-range `tail 1` cost (fifo/lake.go:
    // 62-82) at any pool size. Computed from the just-written files
    // (column-pruned, batch-scale), never by re-evaluating the input plan.
    val paths = names.map(n => dataDir.resolve(n).toString)
    val (offsets, ranges) = computeCommitMeta(df.schema, paths)
    val id = publishManifest(
      renderOffsets(offsets) +: renderRanges(ranges) +: names, nonce)
    deleteRecursively(staging)
    id
  }

  /** Per-topic max kafka.offset and per-file pool-key [min, max] of a
    * freshly written file set, in ONE column-pruned read + ONE aggregation
    * over the new files (the hot append path pays one metadata job, not
    * two). Group cardinality is files × topics — batch-scale — so the
    * driver-side fold into the two maps is trivial. Offsets are empty when
    * the schema carries no kafka envelope (such a commit contributes no
    * producer offsets); ranges are empty when the pool key is absent or not
    * castable to long (such files are simply never pruned).
    */
  private def computeCommitMeta(schema: org.apache.spark.sql.types.StructType,
      paths: Seq[String]): (Map[String, Long], Map[String, (Long, Long)]) = {
    if (paths.isEmpty) return (Map.empty, Map.empty)
    val hasKafka = scala.util.Try {
      val kt = schema("kafka").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      kt.fieldNames.contains("topic") && kt.fieldNames.contains("offset")
    }.getOrElse(false)
    val df = spark.read.parquet(paths: _*)
    val keyCol = scala.util.Try(df(key).cast("long")).toOption
    if (!hasKafka && keyCol.isEmpty) return (Map.empty, Map.empty)
    val rows = df.select(
        input_file_name().as("f"),
        (if (hasKafka) col("kafka.topic") else lit(null).cast("string")).as("t"),
        (if (hasKafka) col("kafka.offset").cast("long")
         else lit(null).cast("long")).as("o"),
        keyCol.getOrElse(lit(null).cast("long")).as("k"))
      .groupBy("f", "t")
      .agg(min("k").as("lo"), max("k").as("hi"), max("o").as("mo"))
      .collect()
    val offsets = rows.iterator
      .filter(r => !r.isNullAt(1) && !r.isNullAt(4))
      .toSeq.groupBy(_.getString(1))
      .map { case (t, rs) => t -> rs.map(_.getLong(4)).max }
    val ranges = rows.iterator
      .filter(r => !r.isNullAt(2) && !r.isNullAt(3))
      .toSeq.groupBy(_.getString(0).split('/').last)
      .map { case (f, rs) =>
        f -> (rs.map(_.getLong(2)).min, rs.map(_.getLong(3)).max) }
    (offsets, ranges)
  }

  private def renderOffsets(m: Map[String, Long]): String =
    "#offsets " + m.toSeq.sortBy(_._1).map { case (t, o) =>
      s""""${t.replace("\\", "\\\\").replace("\"", "\\\"")}": $o"""
    }.mkString("{", ", ", "}")

  private def renderRanges(m: Map[String, (Long, Long)]): String =
    "#ranges " + m.toSeq.sortBy(_._1).map { case (f, (lo, hi)) =>
      s""""${f.replace("\\", "\\\\").replace("\"", "\\\"")}": [$lo, $hi]"""
    }.mkString("{", ", ", "}")

  private def parseRanges(lines: Seq[String]): Map[String, (Long, Long)] =
    lines.find(_.startsWith("#ranges ")).map(_.stripPrefix("#ranges ")) match {
      case None => Map.empty
      case Some(json) =>
        // zone maps are an optimization: a malformed line (hand-edited or
        // foreign-writer manifest) must degrade to "no pruning", never
        // break the read path
        scala.util.Try {
          val om = new com.fasterxml.jackson.databind.ObjectMapper()
          val it = om.readTree(json).properties().iterator()
          val buf = scala.collection.mutable.Map[String, (Long, Long)]()
          while (it.hasNext) {
            val e = it.next()
            val v = e.getValue
            // entries that aren't an exact [long, long] are dropped (their
            // file is then simply never pruned) — asLong() would coerce
            // garbage to 0 and wrongly prune
            if (v.isArray && v.size == 2 &&
                v.get(0).canConvertToLong && v.get(1).canConvertToLong)
              buf(e.getKey) = (v.get(0).asLong(), v.get(1).asLong())
          }
          buf.toMap
        }.getOrElse(Map.empty)
    }

  /** Write the manifest under the next free sequence number; retry on
    * publish races. Returns the winning commit id.
    */
  private def publishManifest(lines: Seq[String], nonce: String,
      maxAttempts: Int = 50): String = {
    val tmp = commitsDir.resolve(s".tmp-$nonce")
    Files.write(tmp, lines.mkString("\n").getBytes)
    var attempt = 0
    try {
      while (attempt < maxAttempts) {
        val commitId = f"${nextSeq()}%08d"
        // create-if-absent CAS (hard link on POSIX, conditional PUT on
        // object stores): fails — rather than replaces — if another
        // writer took this sequence number
        if (publisher.publish(commitsDir.resolve(s"$commitId.txt"), tmp))
          return commitId
        attempt += 1
      }
      throw new IllegalStateException(
        s"pool $name: lost $maxAttempts commit races, giving up")
    } finally Files.deleteIfExists(tmp)
  }

  private def nextSeq(): Int =
    manifests().lastOption
      .map(_.getFileName.toString.stripSuffix(".txt").toInt + 1).getOrElse(1)

  /** Compact: rewrite the current pool contents (globally sorted by the
    * pool key) into a fresh file set behind one `#compact` manifest —
    * bounding file count as incremental commits accumulate. Readers are
    * never blocked: the compact manifest lands with the same atomic rename
    * as any commit; superseded data files become garbage (collected by
    * `vacuum`). Single-writer, like every other mutation.
    */
  def compact(): String = {
    val files = committedFiles()
    if (files.isEmpty) return "empty"
    // A compact manifest supersedes the log before it, so it must publish
    // at EXACTLY the sequence number observed when the file list was read:
    // if a concurrent append wins that number, retrying at a later one
    // would hide the appended commit. Lose the race → abort and clean up
    // (the caller can re-run; appends are never blocked or lost).
    val expected = f"${nextSeq()}%08d"
    val df = read()
    val sorted = scala.util.Try(df(key)).toOption
      .map(c => df.repartitionByRange(df.sparkSession.conf
        .get("spark.sql.shuffle.partitions").toInt, c).sortWithinPartitions(c))
      .getOrElse(df)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val staging = root.resolve(s"_staging-$nonce")
    sorted.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    val parts = Files.list(staging).iterator.asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet"))
    val names = parts.zipWithIndex.map { case (p, i) =>
      val nm = s"c$nonce-$i.parquet"
      Files.move(p, dataDir.resolve(nm), StandardCopyOption.ATOMIC_MOVE)
      nm
    }
    val tmp = commitsDir.resolve(s".tmp-$nonce")
    // Zone maps always recompute — they describe the NEW file set (the
    // globally sorted rewrite makes them tight: disjoint key ranges); the
    // same single metadata job also yields offsets, used when the
    // superseded manifests' metadata is incomplete — the upgrade path that
    // makes a legacy (pre-metadata) pool resumable without scans from here.
    val (scanOffsets, ranges) =
      computeCommitMeta(df.schema, names.map(n => dataDir.resolve(n).toString))
    val offLine = renderOffsets(manifestOffsets().getOrElse(scanOffsets))
    val rangeLine = renderRanges(ranges)
    Files.write(tmp, ("#compact" +: offLine +: rangeLine +: names).mkString("\n").getBytes)
    try {
      if (publisher.publish(commitsDir.resolve(s"$expected.txt"), tmp)) {
        deleteRecursively(staging)
        expected
      } else {
        names.foreach(n => Files.deleteIfExists(dataDir.resolve(n)))
        deleteRecursively(staging)
        "conflict"
      }
    } finally Files.deleteIfExists(tmp)
  }

  /** Delete data files no longer referenced by any visible manifest.
    *
    * `graceMs` spares recently-written files, and a positive value is the
    * DEFAULT for two reasons: (1) a reader that listed manifests just
    * before a compact landed may still be reading the superseded files
    * (the reader-safety contract of table-format VACUUM retention), and
    * (2) a concurrent [[append]] moves its data files into `data/` BEFORE
    * publishing the manifest that references them — with zero grace a
    * vacuum running in that window would delete the not-yet-published
    * files and the append would commit a manifest pointing at nothing.
    * Pass `graceMs = 0` only when no writer can be active (tests).
    */
  def vacuum(graceMs: Long = Pool.DefaultVacuumGraceMs): Int = {
    val live = committedFiles().map(Paths.get(_).getFileName.toString).toSet
    if (!Files.isDirectory(dataDir)) return 0
    val cutoff = System.currentTimeMillis() - graceMs
    val dead = Files.list(dataDir).iterator.asScala.toSeq
      .filterNot(p => live(p.getFileName.toString))
      .filter(p => graceMs <= 0L ||
        Files.getLastModifiedTime(p).toMillis < cutoff)
    dead.foreach(Files.deleteIfExists(_))
    dead.size
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }

  /** Persist per-topic ETL cursors, `topic -> (cursor, base)`, under the
    * digest of the transform that resolved them (derived metadata: safe to
    * lose, it only bounds a scan). `cursor` = every input row of the topic
    * in `[base, cursor]` is done or consumed by no rule of that transform;
    * `base` = the input min offset when the cursor was first anchored. A
    * reader must distrust the cursor when the current input min < base
    * (late arrival below the anchor). Written as
    * `{"transform": digest, "cursors": {topic: {"cursor": c, "base": b}}}`
    * by one atomic rename.
    */
  def writeCursors(cursors: Map[String, (Long, Long)], digest: String): Unit = {
    if (cursors.isEmpty) return
    def quote(v: String) = "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val json = cursors.toSeq.sortBy(_._1).map { case (t, (c, b)) =>
      s"""${quote(t)}: {"cursor": $c, "base": $b}"""
    }.mkString(s"""{"transform": ${quote(digest)}, "cursors": {""", ", ", "}}")
    val tmp = root.resolve(".cursors-tmp")
    Files.write(tmp, json.getBytes)
    Files.move(tmp, root.resolve("cursors.json"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** The cursors persisted under `digest`; empty when there are none, when
    * they belong to another transform, or when the file predates digests
    * (a legacy `{topic: {"cursor", "base"}}` file).
    */
  def readCursors(digest: String): Map[String, (Long, Long)] = {
    val f = root.resolve("cursors.json")
    if (!Files.exists(f)) return Map.empty
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Files.readAllBytes(f))
    val written = node.get("transform")
    if (written == null || !written.isTextual || written.asText != digest) return Map.empty
    node.get("cursors").properties().asScala.map { e =>
      e.getKey -> (e.getValue.get("cursor").asLong(), e.getValue.get("base").asLong())
    }.toMap
  }

  /** Per-topic max kafka.offset merged from `#offsets` manifest metadata,
    * or None when any visible manifest predates the metadata (legacy pool
    * → caller falls back to a scan). O(commits) small file reads, no
    * parquet I/O.
    */
  def manifestOffsets(): Option[Map[String, Long]] = {
    val oms = visibleManifests().map { m =>
      Files.readAllLines(m).asScala.find(_.startsWith("#offsets "))
        .map(_.stripPrefix("#offsets "))
    }
    if (oms.exists(_.isEmpty)) None // legacy manifest in range
    else Some {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val merged = scala.collection.mutable.Map[String, Long]()
      oms.flatten.foreach { json =>
        val it = om.readTree(json).properties().iterator()
        while (it.hasNext) {
          val e = it.next()
          val off = e.getValue.asLong()
          merged(e.getKey) = merged.get(e.getKey).fold(off)(math.max(_, off))
        }
      }
      merged.toMap
    }
  }

  /** Per-topic next producer offsets: max(kafka.offset)+1 by kafka.topic
    * (ref: etl/pool.go:60-81). Empty topics default to 0 at call sites.
    *
    * Reads `#offsets` commit metadata when every visible manifest carries
    * it (no parquet scan — the 100 TB path); legacy pools fall back to a
    * column-pruned scan, and upgrade to metadata on their next compact.
    */
  def nextProducerOffsets(): Map[String, Long] =
    manifestOffsets() match {
      case Some(m) => m.view.mapValues(_ + 1L).toMap
      case None =>
        if (isEmpty) Map.empty
        else read()
          .groupBy(col("kafka.topic").as("topic"))
          .agg(max("kafka.offset").as("off"))
          .collect()
          .map(r => r.getString(0) -> (r.getLong(1) + 1L)).toMap
    }
}

object Pool {
  /** Default vacuum grace: long enough to cover any in-flight append's
    * move-files-then-publish window and typical query lifetimes.
    */
  val DefaultVacuumGraceMs: Long = 10L * 60L * 1000L

  /** Create (idempotent) — validates the pool key on reopen like
    * etl/pool.go:36-40.
    */
  def create(spark: SparkSession, root: String, name: String,
      key: String = "kafka.offset",
      publisher: CommitPublisher = CommitPublisher.HardLink): Pool = {
    val dir = Paths.get(root, name)
    Files.createDirectories(dir)
    val meta = dir.resolve("pool.json")
    if (Files.exists(meta)) {
      val existing = new String(Files.readAllBytes(meta))
      require(existing.contains(s""""$key""""),
        s"pool $name exists with different key: $existing")
    } else {
      Files.write(meta, s"""{"key": "$key"}""".getBytes)
    }
    new Pool(spark, name, dir, key, publisher)
  }

  def open(spark: SparkSession, root: String, name: String,
      publisher: CommitPublisher = CommitPublisher.HardLink): Pool = {
    val dir = Paths.get(root, name)
    require(Files.exists(dir.resolve("pool.json")), s"no such pool: $name under $root")
    val meta = new String(Files.readAllBytes(dir.resolve("pool.json")))
    val key = "\"key\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(meta)
      .map(_.group(1)).getOrElse("kafka.offset")
    new Pool(spark, name, dir, key, publisher)
  }
}
