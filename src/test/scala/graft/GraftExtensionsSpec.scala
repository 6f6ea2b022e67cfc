package graft

import graft.functions._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL surface parity: every registered function returns exactly what its
  * DataFrame-API form returns, both through `spark.sql` text and through
  * `selectExpr`. Also checks session-build-time injection via
  * spark.sql.extensions, and that `GraftSession.tune` gives an external
  * session the builder's runtime confs.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  lazy val spark = {
    val s = GraftSession.local(4)
    GraftExtensions.install(s)
    s
  }

  test("SQL functions match their DataFrame forms") {
    import spark.implicits._
    val df = Seq(
      ("The quick brown fox jumps over the lazy dog", Seq(1.0, 2.0, 3.0), Seq(0.5, 2.5, 2.0)),
      ("pack my box with five dozen liquor jugs!!", Seq(-1.0, 0.0, 4.0), Seq(1.0, 1.0, 1.0)))
      .toDF("text", "va", "vb")
    df.createOrReplaceTempView("ext_t")

    val viaSql = spark.sql(
      """SELECT simhash64(graft_tokens(text)) AS sh,
                minhash_sig(shingle_hashes(shingles(graft_tokens(text), 3)), 16) AS mh,
                minhash_sig(shingle_hashes_text(text, 3), 16) AS mh2,
                shingles_text(text, 3) AS sht,
                stable_round(cosine(va, vb), 4) AS cos,
                stable_round(jaccard(graft_tokens(text), graft_tokens(text)), 4) AS jac,
                bpeish_token_count(text) AS bpe,
                rolling_hash(graft_tokens(text)) AS rh,
                hyperplane_sigs(va, 8, 4) AS hp
         FROM ext_t""").collect()
    val viaDf = df.select(
      SimHash64Expr.simhash64Native(tokens(col("text"))).as("sh"),
      minhashSignature(shingleHashes(shingles(tokens(col("text")), 3)), 16).as("mh"),
      // mh2's reference is built from the builtin-composed tokensColumns so
      // the fused shingle_hashes_text SQL path is checked against an
      // INDEPENDENT formulation, not the same native expression twice
      minhashSignature(shingleHashes(shingles(tokensColumns(col("text")), 3)), 16).as("mh2"),
      // same independence rule: SQL shingles_text vs the composed Columns
      shingles(tokensColumns(col("text")), 3).as("sht"),
      stableRound(cosine(col("va"), col("vb")), 4).as("cos"),
      stableRound(jaccard(tokens(col("text")), tokens(col("text"))), 4).as("jac"),
      bpeishTokenCount(col("text")).as("bpe"),
      rollingHash(tokens(col("text"))).as("rh"),
      HyperplaneSigsExpr.hyperplaneSigs(col("va"), 8, 4).as("hp")).collect()
    assert(viaSql.map(_.toString).toSeq == viaDf.map(_.toString).toSeq)
    assert(viaSql.head.getSeq[Long](8).size == 4) // 4 tables' signatures
  }

  test("vector utilities: l2norm, l2_normalize, mean_pool") {
    val r = spark.sql(
      """SELECT stable_round(l2norm(array(3D, 4D)), 4) AS n,
                l2_normalize(array(3D, 4D)) AS u,
                l2_normalize(array(0D, 0D)) AS z,
                mean_pool(array(array(1D, 2D), array(3D, 6D))) AS mp""").head()
    assert(r.getDouble(0) == 5.0)
    assert(r.getSeq[Double](1) == Seq(0.6, 0.8))
    assert(r.getSeq[Double](2) == Seq(0.0, 0.0))
    assert(r.getSeq[Double](3) == Seq(2.0, 4.0))
  }

  test("native l2_normalize matches the composed formulation") {
    import spark.implicits._
    // random vectors + the edges: zero vector, null element (nulls every
    // slot — the element nulls the norm in the composed form), null input
    val vecs: Seq[Seq[java.lang.Double]] = Seq(
      Seq(3.0, 4.0), Seq(-1.5, 2.25, 0.5), Seq(0.0, 0.0, 0.0),
      Seq(1.0, null, 3.0).asInstanceOf[Seq[java.lang.Double]], null)
    val df = vecs.zipWithIndex.map(_.swap).toDF("id", "v")
    val bad = df.select(col("id"),
      l2normalize(col("v")).as("nat"),
      l2normalizeColumns(col("v").cast("array<double>")).as("ref"))
      .collect()
      .filter(r => r.get(1) != r.get(2))
    assert(bad.isEmpty, s"l2_normalize mismatches: ${bad.take(3).mkString("; ")}")
  }

  test("chunk_text works from SQL") {
    import spark.implicits._
    Seq(("x" * 250)).toDF("t").createOrReplaceTempView("ext_chunk")
    val rows = spark.sql("SELECT chunk_text(t, 200, 150) AS cs FROM ext_chunk")
      .selectExpr("transform(cs, c -> length(c)) AS ls")
      .collect().head.getSeq[Int](0)
    assert(rows == Seq(200, 100))
  }

  test("topk_pairs aggregate works from SQL") {
    import spark.implicits._
    Seq((1L, 0.9, 10L), (1L, 0.7, 20L), (1L, 0.95, 30L), (2L, 0.5, 40L))
      .toDF("q", "sim", "id").createOrReplaceTempView("ext_topk")
    val got = spark.sql(
      """SELECT q, topk_pairs(sim, id, 2) AS top FROM ext_topk GROUP BY q""")
      .selectExpr("q", "transform(top, t -> t.n_id) AS ids")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(got == Map(1L -> List(30L, 10L), 2L -> List(40L)))
  }

  test("cleaning surface: nfc_normalize, strip_html, redact_pii from SQL") {
    import spark.implicits._
    Seq(("<p>mail a@b.co</p> café", 1L)).toDF("s", "i")
      .createOrReplaceTempView("ext_clean")
    val r = spark.sql(
      """SELECT nfc_normalize(s) AS n, strip_html(s) AS h, redact_pii(s) AS p
         FROM ext_clean""").head()
    assert(r.getString(0) == "<p>mail a@b.co</p> café")
    assert(r.getString(1) == "mail a@b.co caf" + "é")
    assert(r.getString(2) == "<p>mail <EMAIL></p> café")
  }

  test("non-literal table/band counts are rejected with a clear error") {
    val err = intercept[Exception](
      spark.sql("SELECT hyperplane_sigs(array(1.0), cast(rand()*4 AS INT), 2)").collect())
    assert(err.getMessage.contains("integer literal"))
  }

  test("spark.sql.extensions wiring injects at session build") {
    // verify the extension class instantiates and registers without error
    // against a throwaway builder config (same JVM session reuse means we
    // exercise apply() directly rather than a second live session)
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
  }

  test("tune gives an external session every runtime conf a builder session has") {
    val other = spark.newSession()
    GraftSession.runtimeConfs.foreach { case (k, _) => other.conf.unset(k) }
    GraftSession.tune(other)
    GraftSession.runtimeConfs.foreach { case (k, v) =>
      assert(other.conf.get(k) == v, k)
      assert(spark.conf.get(k) == v, k)
    }
  }
}
