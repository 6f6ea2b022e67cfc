package graft.ml

import graft.GraftSession
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The sf1 rung of the scale ladder as a TAGGED slow suite (r16 verdict
  * #7). It replaced the probe fleet (IvfScaleProbe, CompactProbe,
  * MinHashStoreProbe, StreamStoreProbe), dev mains whose LOGS were the
  * only regression evidence — a scale regression the sf0.01 gates can't
  * see (recall collapse past broadcast scale, store probe losing to the
  * union re-run, compaction not paying for itself) would surface a round
  * late. The probes are deleted; their logs stay in BENCHNOTES.md. This
  * suite re-runs the sf1 rungs with the floors those probes recorded,
  * env-gated like the live-Kafka tier:
  *
  *   GRAFT_SCALE_SPEC=1 sbt "testOnly graft.ml.ScaleSpec"
  *
  * (~2-4 min at local[32]; cancels cleanly when the flag or the locally
  * generated testdata-sf1 is absent.)
  */
class ScaleSpec extends AnyFunSuite {

  private val sfDir = "/root/repo/testdata-sf1"
  private def gated(): Unit = {
    assume(sys.env.contains("GRAFT_SCALE_SPEC"),
      "slow scale tier: set GRAFT_SCALE_SPEC=1 to run the sf1 ladder")
    assume(new java.io.File(s"$sfDir/documents.parquet").exists(),
      s"locally generated sf1 testdata absent at $sfDir")
  }

  lazy val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)

  private def pairSet(df: DataFrame, a: String, b: String): Set[(Long, Long)] =
    df.select(a, b).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  test("sf1 minhash store: probe == union cross-split pairs, and beats the union re-run") {
    gated()
    val docs = Tables.documents(spark, sfDir)
    val hist = docs.filter(col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 3 === 0)
    val store = MinHashStore.build(hist,
      java.nio.file.Files.createTempDirectory("scale-mhs").toString)

    val (probed, tProbe) = timed(
      pairSet(store.probe(batch, hist, 0.5), "new_id", "hist_id"))
    val (est, tEst) = timed(store.probeEstimate(batch, 0.5).count())
    spark.sharedState.cacheManager.clearCache()
    val (union, tUnion) = timed(
      pairSet(DedupOps.minhashPairs(docs, 0.5), "a", "b"))
    // parity: the probe's pairs are exactly the union run's cross-split
    // subset (both verify exact jaccard over identical shingle algebra)
    val crossFromUnion = union.flatMap { case (a, b) =>
      val (bat, h) = if (a % 3 == 0) (a, b) else (b, a)
      if (bat % 3 == 0 && h % 3 != 0) Some((bat, h)) else None
    }
    assert(probed == crossFromUnion,
      s"probe diverged from union ground truth: ${probed.size} vs ${crossFromUnion.size}")
    assert(est > 0, "estimate path found nothing at sf1")
    // cost floors: sf1 is the thin end of the store's economics — the
    // EXACT probe's fixed overheads (two eager pins, candidate joins)
    // only amortize past sf10 (probe 4.3s vs union 7.5s, MinHashStoreProbe
    // receipts), so here it gets a catastrophe bound only; the store-only
    // ESTIMATE path must already beat the union re-run at this rung
    // (observed ~1s vs ~2.8s)
    assert(tProbe <= tUnion * 2.0,
      f"exact probe cost blew up: probe $tProbe%.1fs vs union $tUnion%.1fs")
    assert(tEst <= tUnion,
      f"estimate probe lost to the union re-run: $tEst%.1fs vs $tUnion%.1fs")
    info(f"probe=$tProbe%.1fs estimate=$tEst%.1fs union=$tUnion%.1fs pairs=${probed.size}")
  }

  test("sf1 disk ANN indexes: probe recall floors hold (IVF 0.90, PQ default-frac 0.70)") {
    gated()
    val corpus = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .persist()
    val queries = corpus.filter(col("vec_id") < 20)
    val brute = pairSet(AnnOps.bruteForceTopK(corpus, queries, 5), "q_id", "n_id")
    def recall(approx: Set[(Long, Long)]): Double =
      approx.count(brute.contains).toDouble / brute.size

    val ivf = IvfIndex.build(corpus,
      java.nio.file.Files.createTempDirectory("scale-ivf").toString,
      cells = 64, trainIters = 3)
    val rIvf = recall(pairSet(ivf.search(queries, 5, nprobe = 8), "q_id", "n_id"))
    assert(rIvf >= 0.90, f"IVF sf1 recall floor: $rIvf%.3f < 0.90")

    val pq = IvfPq.build(corpus,
      java.nio.file.Files.createTempDirectory("scale-ivfpq").toString,
      cells = 64, m = 8)
    // the DEFAULT corpus-fraction shortlist (r16 verdict #2's fix): the
    // scale-correct path whose sf10/sf100 receipts read 0.95/0.92. sf1 is
    // its THIN end — 5% of ~2.5k probed rows is a ~125-row shortlist, so
    // ADC ranking noise bites hardest here (observed 0.73, deterministic
    // build); the floor pins regression at this rung, the ladder receipts
    // carry the holds-at-scale claim
    val rPq = recall(pairSet(pq.search(corpus, queries, 5, nprobe = 8), "q_id", "n_id"))
    assert(rPq >= 0.70, f"IVF+PQ sf1 default-frac recall floor: $rPq%.3f < 0.70")
    info(f"ivf=$rIvf%.3f ivfpq_frac=$rPq%.3f over ${brute.size} truth pairs")
    corpus.unpersist()
  }

  test("sf1 streaming ANN sink: exactly-once counts, maintained recall holds vs fresh rebuild") {
    gated()
    val corpus = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .persist()
    val hist = corpus.filter(col("vec_id") % 2 === 0)
    def batch(b: Int) = corpus.filter(col("vec_id") % 2 === 1 &&
      pmod(expr("vec_id div 2"), lit(8L)) === b)
    val origin = IvfIndex.build(hist,
      java.nio.file.Files.createTempDirectory("scale-streamann").toString,
      cells = 64, trainIters = 3)
    // driftTol 0.12 sits above the ~0.06 generalization gap at this
    // points-per-cell (BENCHNOTES r17) — ticks compact, never retrain
    val policy = IvfIndex.MaintainPolicy(driftTol = 0.12,
      maxFilesPerCell = 4, targetFilesPerCell = 1,
      recallQueries = 16, k = 5, nprobe = 8)
    val sink = graft.streaming.StreamAnn.ivfForeachBatch(origin, 4, policy)()
    for (b <- 0 until 8) sink(batch(b), b.toLong)
    // restart + replay of the delivered last batch: exactly-once
    graft.streaming.StreamAnn.ivfForeachBatch(origin, 4, policy)()(batch(7), 7L)

    val live = IvfIndex.resolveLive(origin)
    assert(live.path != origin.path, "8 appends at maxFilesPerCell=4 must have flipped")
    val ids = spark.read.parquet(s"${live.path}/cells").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val want = corpus.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids == want, s"sink lost/duplicated rows: ${ids.size} vs ${want.size}")
    // post-tick file ceiling stays within the policy budget
    val ceiling = new java.io.File(s"${live.path}/cells").listFiles()
      .filter(_.isDirectory)
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).max
    assert(ceiling <= 4, s"maintenance left fragmentation: $ceiling files/cell")
    // the maintained index holds the recall of a fresh single-shot build
    val rMaint = IvfIndex.measureRecall(live, k = 5, nprobe = 8, nQueries = 32)
    val control = IvfIndex.build(corpus,
      java.nio.file.Files.createTempDirectory("scale-streamann-ctl").toString,
      cells = 64, trainIters = 3)
    val rCtl = IvfIndex.measureRecall(control, k = 5, nprobe = 8, nQueries = 32)
    assert(rMaint >= rCtl - 0.05,
      f"maintained recall $rMaint%.3f fell below fresh-rebuild $rCtl%.3f - 0.05")
    info(f"maintained=$rMaint%.3f freshControl=$rCtl%.3f ceiling=$ceiling")
    corpus.unpersist()
  }

  test("sf1 streaming PQ sink: exact rows under an over-covering provider, recall holds") {
    gated()
    val corpus = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .persist()
    val hist = corpus.filter(col("vec_id") % 2 === 0)
    def batch(b: Int) = corpus.filter(col("vec_id") % 2 === 1 &&
      pmod(expr("vec_id div 2"), lit(8L)) === b)
    val origin = IvfPq.build(hist,
      java.nio.file.Files.createTempDirectory("scale-streampq").toString,
      cells = 64, m = 8)
    // provider deliberately over-covers (both splits): only delivered
    // batches may reach the index (StreamAnn restricts to stored ids)
    val sink = graft.streaming.StreamAnn.ivfPqForeachBatch(origin,
      () => corpus, maintainEvery = 4,
      IvfPq.MaintainPolicy(maxFilesPerCell = 4, targetFilesPerCell = 1,
        recallQueries = 16, k = 5, nprobe = 8))()
    for (b <- 0 until 6) sink(batch(b), b.toLong)
    // exactly-once under replay, as the IVF rung
    graft.streaming.StreamAnn.ivfPqForeachBatch(origin, () => corpus,
      maintainEvery = 4)()(batch(5), 5L)

    val live = IvfPq.resolveLive(origin)
    val stored = spark.read.parquet(s"${live.path}/cells")
    val want = hist.count() + (0 until 6).map(b => batch(b).count()).sum
    assert(stored.count() == want && stored.select("vec_id").distinct().count() == want,
      s"PQ sink row drift: ${stored.count()} vs $want")
    val storedCorpus = corpus.join(stored.select("vec_id"), Seq("vec_id"), "left_semi")
    val rMaint = IvfPq.measureRecall(live, storedCorpus, k = 5, nprobe = 8)
    val control = IvfPq.build(storedCorpus,
      java.nio.file.Files.createTempDirectory("scale-streampq-ctl").toString,
      cells = 64, m = 8)
    val rCtl = IvfPq.measureRecall(control, storedCorpus, k = 5, nprobe = 8)
    assert(rMaint >= rCtl - 0.1,
      f"maintained PQ recall $rMaint%.3f fell below fresh-rebuild $rCtl%.3f - 0.1")
    info(f"maintained=$rMaint%.3f freshControl=$rCtl%.3f rows=$want")
    corpus.unpersist()
  }

  test("sf1 store compaction: fragmented appends rewritten, probe parity, cost not worse") {
    gated()
    val docs = Tables.documents(spark, sfDir)
    val hist = docs.filter(col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 3 === 0)
    val store = MinHashStore.build(hist.filter(col("doc_id") % 12 === 1),
      java.nio.file.Files.createTempDirectory("scale-compact").toString)
    // fragment: 11 appends (the steady-state sink shape)
    for (r <- Seq(2, 4, 5, 7, 8, 10, 11)) // the remaining %3!=0 residues mod 12
      store.append(hist.filter(col("doc_id") % 12 === r))
    for (r <- Seq(1, 2, 3, 4)) // split one residue further for extra files
      store.append(hist.filter(col("doc_id") % 12 === 0 && col("doc_id") % 48 === r * 12 - 12))

    val (fragPairs, tFrag) = timed(
      pairSet(store.probeEstimate(batch, 0.5), "new_id", "hist_id"))
    val gen = store.compactTo(
      java.nio.file.Files.createTempDirectory("scale-compact-gen").toString,
      maxFilesPerBand = 4)
    assert(gen.path != store.path, "11 appends must fragment past 4 files/band")
    spark.sharedState.cacheManager.clearCache()
    val (compPairs, tComp) = timed(
      pairSet(gen.probeEstimate(batch, 0.5), "new_id", "hist_id"))
    assert(compPairs == fragPairs, "compaction changed probe results")
    assert(tComp <= tFrag * 1.25,
      f"compacted probe slower than fragmented: $tComp%.1fs vs $tFrag%.1fs")
    info(f"fragmented=$tFrag%.1fs compacted=$tComp%.1fs pairs=${compPairs.size}")
  }
}
