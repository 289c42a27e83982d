package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{IndexFamily, VectorOps}

/** Contracts of the product-quantization path: codebook geometry,
  * encode determinism, ADC exactness on exactly-representable vectors,
  * and the rerank composition (shortlist containment + exact scores). */
class PqSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // dim=8, m=2 subspaces of 4; ksub=2 codebooks seeded from vec_id<2.
  // Vectors 0..1 are the seeds; 2..3 sit exactly ON a seed per subspace
  // (so 0-iteration codebooks represent them exactly); 4 is off-grid.
  private val dim = 8
  private def corpus = Seq(
    (0L, Seq(1f, 0f, 0f, 0f, 0f, 1f, 0f, 0f)),
    (1L, Seq(0f, 1f, 0f, 0f, 1f, 0f, 0f, 0f)),
    (2L, Seq(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)), // sub0 of seed0, sub1 of seed1
    (3L, Seq(0f, 1f, 0f, 0f, 0f, 1f, 0f, 0f)), // sub0 of seed1, sub1 of seed0
    (4L, Seq(0.6f, 0.8f, 0f, 0f, 0.8f, 0.6f, 0f, 0f))
  ).toDF("vec_id", "embedding")

  test("codebooks: one cv of dsub floats per surviving (s, cid)") {
    val cents = VectorOps.pqTrainCodebooks(corpus, m = 2, ksub = 2,
      iterations = 0, dim = dim)
      .select(col("s"), col("cid"), size(col("cv")).as("n"))
      .as[(Int, Long, Int)].collect()
    assert(cents.length == 4) // 2 subspaces × 2 seeds
    assert(cents.forall(_._3 == dim / 2))
  }

  test("encode picks the exact sub-centroid for on-grid vectors") {
    val cents = VectorOps.pqTrainCodebooks(corpus, m = 2, ksub = 2,
      iterations = 0, dim = dim)
    val codes = VectorOps.pqEncode(corpus, cents, m = 2, dim = dim)
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).map { case (v, rs) =>
        v -> rs.sortBy(_._2).map(_._3).toSeq }
    assert(codes(0L) == Seq(0L, 0L))
    assert(codes(1L) == Seq(1L, 1L))
    assert(codes(2L) == Seq(0L, 1L)) // mixes the two seeds across subspaces
    assert(codes(3L) == Seq(1L, 0L))
  }

  test("ADC cosine is exact for vectors the codebooks represent exactly") {
    // query = vector 4 (off-grid, stays exact on the query side); every
    // corpus vector 0..3 reconstructs exactly under 0-iteration
    // codebooks, so ADC == true cosine within the round-6 contract
    val q = corpus.filter(col("vec_id") === 4)
    val c = corpus.filter(col("vec_id") < 4)
    val adc = VectorOps.pqTopK(q, c, k = 4, m = 2, ksub = 2,
      trainIters = 0, dim = dim)
      .select(col("neighbor_id"), col("cos_sim"))
      .as[(Long, Double)].collect().toMap
    val exact = VectorOps.bruteForceTopK(q, corpus, k = 5)
      .filter(col("neighbor_id") < 4)
      .select(col("neighbor_id"), col("cos_sim"))
      .as[(Long, Double)].collect().toMap
    assert(adc.keySet == exact.keySet)
    adc.foreach { case (id, sim) =>
      assert(math.abs(sim - exact(id)) <= 2e-6, s"neighbor $id: $sim vs ${exact(id)}")
    }
  }

  test("rerank returns exact cosine over an ADC-shortlist subset") {
    val q = corpus.filter(col("vec_id") === 4)
    val c = corpus.filter(col("vec_id") < 4)
    val shortlist = VectorOps.pqTopK(q, c, k = 3, m = 2, ksub = 2,
      trainIters = 0, dim = dim)
      .select(col("neighbor_id")).as[Long].collect().toSet
    val rr = VectorOps.pqTopKRerank(q, c, k = 2, shortlist = 3, m = 2,
      ksub = 2, trainIters = 0, dim = dim)
      .select(col("neighbor_id"), col("cos_sim"))
      .as[(Long, Double)].collect()
    assert(rr.length == 2)
    assert(rr.map(_._1).toSet.subsetOf(shortlist))
    val exact = VectorOps.bruteForceTopK(q, corpus, k = 5)
      .select(col("neighbor_id"), col("cos_sim"))
      .as[(Long, Double)].collect().toMap
    rr.foreach { case (id, sim) => assert(sim == exact(id)) }
  }

  test("persisted index probes equal the in-memory pipeline; append is frozen; delete vanishes") {
    val q = corpus.filter(col("vec_id") === 4)
    val c = corpus.filter(col("vec_id") < 4)
    val table = "graft_pq_spec_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val path = java.nio.file.Files.createTempDirectory("graft_pq_spec_").toString
    try {
      VectorOps.writePqIndex(c, table, path, m = 2, ksub = 2,
        trainIters = 1, dim = dim)
      val mem = VectorOps.pqTopK(q, c, k = 4, m = 2, ksub = 2,
        trainIters = 1, dim = dim)
        .select(col("neighbor_id"), col("cos_sim"), col("rk"))
        .as[(Long, Double, Long)].collect().sortBy(_._1).toSeq
      val idx = VectorOps.probePqIndex(spark, table, q, k = 4, m = 2, dim = dim)
        .select(col("neighbor_id"), col("cos_sim"), col("rk"))
        .as[(Long, Double, Long)].collect().sortBy(_._1).toSeq
      assert(idx == mem, "index probe must equal the in-memory pipeline")

      // frozen-codebook append: probing after admitting a batch must
      // equal encoding the UNION corpus against the ORIGINAL codebooks
      val batch = Seq((9L, Seq(0.9f, 0.1f, 0f, 0f, 0.1f, 0.9f, 0f, 0f)))
        .toDF("vec_id", "embedding")
      IndexFamily.vector(IndexFamily.pq.tables, VectorOps.pqCodes(2, dim))
        .append(spark, table, batch)
      val cents = spark.table(s"${table}_codebooks")
      val frozenUnion = VectorOps.pqEncode(c.unionByName(batch), cents,
        m = 2, dim = dim)
        .as[(Long, Int, Long)].collect().toSet
      val served = spark.table(s"${table}_codes")
        .as[(Long, Int, Long)].collect().toSet
      assert(served == frozenUnion)
      assert(VectorOps.probePqIndex(spark, table, q, k = 5, m = 2, dim = dim)
        .select(col("neighbor_id")).as[Long].collect().contains(9L))

      // tombstone delete: the id stops surfacing; codes are not rewritten
      IndexFamily.pq.delete(spark, table, Seq(9L).toDF("vec_id"))
      val after = VectorOps.probePqIndex(spark, table, q, k = 5, m = 2,
        dim = dim).select(col("neighbor_id")).as[Long].collect()
      assert(!after.contains(9L))
      assert(spark.table(s"${table}_codes")
        .filter(col("vec_id") === 9L).count() == 2,
        "delete must be a tombstone, not a codes rewrite")
    } finally {
      Seq(s"${table}_codebooks", s"${table}_codes", s"${table}_tombstones")
        .foreach(t => if (spark.catalog.tableExists(t))
          spark.sql(s"DROP TABLE $t"))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    }
  }

  test("upsert replaces code rows wholesale; compaction settles tombstones; pointer serves") {
    val q = corpus.filter(col("vec_id") === 4)
    val c = corpus.filter(col("vec_id") < 4)
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val src = s"graft_pq_up_src_$tag"
    val dest = s"graft_pq_up_dest_$tag"
    val comp = s"graft_pq_up_comp_$tag"
    val view = s"graft_pq_up_view_$tag"
    val paths = (1 to 3).map(_ =>
      java.nio.file.Files.createTempDirectory("graft_pq_up_").toString)
    try {
      VectorOps.writePqIndex(c, src, paths(0), m = 2, ksub = 2,
        trainIters = 1, dim = dim)
      // corrupt: vec 3 doubled under a different embedding (vec 2's) —
      // its ADC fold now mixes two generations of code rows
      IndexFamily.vector(IndexFamily.pq.tables, VectorOps.pqCodes(2, dim))
        .append(spark, src, c.filter(col("vec_id") === 2)
          .select(lit(3L).as("vec_id"), col("embedding")))
      // plus a pending delete of vec 0 the upsert must purge
      IndexFamily.pq.delete(spark, src, Seq(0L).toDF("vec_id"))
      // the served row's append encodes 8 subspaces of 64 dims; this
      // index has 2 of `dim`
      IndexFamily.vector(IndexFamily.pq.tables,
          VectorOps.pqCodes(2, dim))
        .upsert(spark, src, dest, Seq(paths(1)), c.filter(col("vec_id") === 3))
      val codes = spark.table(s"${dest}_codes")
      assert(codes.filter(col("vec_id") === 3L).count() == 2,
        "exactly one generation of code rows per upserted id")
      assert(codes.filter(col("vec_id") === 0L).count() == 0,
        "upsert purges pending deletes")
      assert(!spark.catalog.tableExists(s"${dest}_tombstones") ||
        spark.table(s"${dest}_tombstones").isEmpty)
      // the healed generation probes exactly like a fresh build over c
      val fresh = VectorOps.pqTopK(q, c, k = 4, m = 2, ksub = 2,
        trainIters = 1, dim = dim)
        .select(col("neighbor_id"), col("cos_sim"))
        .as[(Long, Double)].collect().toMap.filter(_._1 != 0L)
      val healed = VectorOps.probePqIndex(spark, dest, q, k = 4, m = 2,
        dim = dim).select(col("neighbor_id"), col("cos_sim"))
        .as[(Long, Double)].collect().toMap
      assert(healed == fresh)

      // compaction of the CORRUPT src settles the tombstone physically
      IndexFamily.pq.compact(spark, src, comp, paths(2))
      assert(spark.table(s"${comp}_codes")
        .filter(col("vec_id") === 0L).count() == 0)
      assert(!spark.catalog.tableExists(s"${comp}_tombstones"))

      // pointer-published serving: probing the view == probing dest
      graft.operators.Generations.publishPointer(spark, view, dest,
        suffixes = Seq("_codebooks", "_codes"))
      val viaView = VectorOps.probePqIndex(spark, view, q, k = 4, m = 2,
        dim = dim).select(col("neighbor_id"), col("cos_sim"))
        .as[(Long, Double)].collect().toMap
      assert(viaView == healed)
    } finally {
      if (spark.catalog.tableExists(view)) spark.sql(s"DROP VIEW $view")
      Seq(src, dest, comp).flatMap(t => Seq(s"${t}_codebooks",
          s"${t}_codes", s"${t}_tombstones"))
        .foreach(t => if (spark.catalog.tableExists(t))
          spark.sql(s"DROP TABLE $t"))
      paths.foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    }
  }

  test("Lloyd refinement keeps the (s, cid, cv) shape and stays deterministic") {
    val a = VectorOps.pqTrainCodebooks(corpus, m = 2, ksub = 2,
      iterations = 2, dim = dim).orderBy(col("s"), col("cid"))
      .as[(Int, Long, Seq[Float])].collect().toSeq
    val b = VectorOps.pqTrainCodebooks(
      corpus.repartition(3), m = 2, ksub = 2,
      iterations = 2, dim = dim).orderBy(col("s"), col("cid"))
      .as[(Int, Long, Seq[Float])].collect().toSeq
    assert(a == b, "codebook bits must not depend on input partitioning")
  }
}
