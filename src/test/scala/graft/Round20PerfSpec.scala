package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contract pins for the r20 OPTIMIZATION round's operator-internal
  * changes (OPTIMIZATION_r20.md): every rewrite must be
  * result-IDENTICAL to the form it replaced — the oracle gate checks
  * each query against DuckDB, but these pin the internal equivalences
  * directly so a future edit can't drift one side.
  *
  *   - hoisted-quantizer IVF forms ≡ the self-training forms (the
  *     epoch's `_cents` leaf IS trainCentroids' output roundtripped
  *     through parquet);
  *   - `Tables.spread` is the identity on row CONTENT, and a plan
  *     no-op (no added exchange) when the input already carries ≥
  *     cores partitions;
  *   - the seed-spread media generators emit the same (id, type,
  *     bytes) rows as a direct single-partition synthesis. */
class Round20PerfSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("hoisted IVF probe equals the self-training probe") {
    val emb = Tables.embeddings(spark, sfDir)
    val k = SimilarityQueries.ivfK(emb)
    val cents = spark.table(
      s"${SimilarityQueries.base(spark, sfDir, SimilarityQueries.ivf)}_cents")
    val q = emb.filter(col("vec_id") < 3)
    val hoisted = graft.operators.VectorOps
      .ivfTopKWith(cents, q, emb, k = 3, nProbe = 4)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
    val trained = graft.operators.VectorOps
      .ivfTopK(q, emb, k = 3, numCentroids = k, nProbe = 4, trainIters = 2)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
    assert(canon(hoisted) == canon(trained))
  }

  test("hoisted k-means assignment equals the self-training assignment") {
    val emb = Tables.embeddings(spark, sfDir)
    val k = SimilarityQueries.ivfK(emb)
    val cents = spark.table(
      s"${SimilarityQueries.base(spark, sfDir, SimilarityQueries.ivf)}_cents")
    val hoisted = graft.operators.VectorOps.kmeansAssignWith(cents, emb)
    val trained = graft.operators.VectorOps
      .kmeansAssign(emb, numCentroids = k, trainIters = 2)
    assert(canon(hoisted) == canon(trained))
  }

  test("hoisted SQ8 probe equals the self-training SQ8 probe") {
    val emb = Tables.embeddings(spark, sfDir)
    val k = SimilarityQueries.ivfK(emb)
    val cents = spark.table(
      s"${SimilarityQueries.base(spark, sfDir, SimilarityQueries.ivf)}_cents")
    val q = emb.filter(col("vec_id") < 3)
    val hoisted = graft.operators.VectorOps
      .ivfTopKSq8With(cents, q, emb, k = 3, nProbe = 4)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
    val trained = graft.operators.VectorOps
      .ivfTopKSq8(q, emb, k = 3, numCentroids = k, nProbe = 4, trainIters = 2)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
    assert(canon(hoisted) == canon(trained))
  }

  test("hoisted hard-negative mining equals the self-training form") {
    val emb = Tables.embeddings(spark, sfDir)
    val k = SimilarityQueries.ivfK(emb)
    val cents = spark.table(
      s"${SimilarityQueries.base(spark, sfDir, SimilarityQueries.ivf)}_cents")
    val q = emb.filter(col("vec_id") < 3)
    val hoisted = graft.operators.VectorOps
      .ivfHardNegativesWith(cents, q, emb, k = 5, nProbe = 4,
        loCos = 0.30, hiCos = 0.90)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
    val trained = graft.operators.VectorOps
      .ivfHardNegatives(q, emb, k = 5, numCentroids = k, nProbe = 4,
        trainIters = 2, loCos = 0.30, hiCos = 0.90)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
    assert(canon(hoisted) == canon(trained))
  }

  test("hoisted silhouette equals the self-training silhouette") {
    val emb = Tables.embeddings(spark, sfDir)
    val k = SimilarityQueries.ivfK(emb)
    val cents = spark.table(
      s"${SimilarityQueries.base(spark, sfDir, SimilarityQueries.ivf)}_cents")
    val hoisted = graft.operators.VectorOps.clusterSilhouetteWith(cents, emb)
    val trained = graft.operators.VectorOps
      .clusterSilhouette(emb, numCentroids = k, trainIters = 2)
    assert(canon(hoisted) == canon(trained))
  }

  test("Tables.spread preserves rows and no-ops on wide inputs") {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"))
    assert(canon(Tables.spread(docs)) == canon(docs))
    // an input already at >= cores partitions must come back UNCHANGED
    // (same object — no exchange added; the 100 TB plan-shape claim)
    val p = spark.sparkContext.defaultParallelism
    val wide = docs.repartition(p + 1)
    assert(Tables.spread(wide) eq wide)
  }

  test("seed-spread media generators emit the same rows") {
    val sparkS = spark; import sparkS.implicits._
    val docs = Tables.documents(spark, sfDir)
    val got = graft.operators.Multimodal.syntheticImages(docs).toDF()
      .select(col("media_id"), col("media_type"), md5(col("media")))
    val expect = docs.select(col("doc_id")).as[Long].collect().sorted
      .map { id =>
        val bytes = graft.operators.Multimodal.encodeSyntheticPng(id)
        val digest = java.security.MessageDigest.getInstance("MD5")
          .digest(bytes).map("%02x".format(_)).mkString
        s"[$id,image/png,$digest]"
      }.toSeq.sorted
    assert(canon(got) == expect)
  }
}
