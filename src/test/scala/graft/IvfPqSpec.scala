package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{IndexFamily, VectorOps}

/** Gates the IVF-PQ composite ([[VectorOps.writeIvfPqIndex]] /
  * [[VectorOps.probeIvfPqIndex]]): (1) the served probe is
  * result-identical to the in-memory [[VectorOps.ivfPqTopK]] with the
  * same parameters, (2) the probe plan physically reads ONLY the probed
  * lists' code partitions (the same DPP contract as IvfIndexSpec — here
  * the pruned partitions hold m-byte PQ codes, so the nProbe/K cut
  * compounds the 32× payload cut), and (3) append under both frozen
  * quantizers equals the frozen-quantizer build over the union corpus. */
class IvfPqSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark

  private val dir = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Set[(Long, Long, Double, Long)] =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(nodes)

  private val tableMemo =
    new java.util.concurrent.ConcurrentHashMap[Int, String]()

  private def ivfPqTable(emb: DataFrame, k: Int): String =
    tableMemo.computeIfAbsent(k, _ => {
      val table = "graft_ivfpq_spec_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val path =
        java.nio.file.Files.createTempDirectory("graft_ivfpq_spec_").toString
      VectorOps.writeIvfPqIndex(emb, table, path, numCentroids = k,
        trainIters = 2, m = 8, ksub = 64, pqIters = 2)
      table
    })

  test("probe matches the in-memory IVF-PQ pass exactly") {
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 10)
    val k = SimilarityQueries.ivfK(emb)
    val table = ivfPqTable(emb, k)
    val probe = VectorOps.probeIvfPqIndex(spark, table, queries, k = 3, nProbe = 4)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
    val direct = VectorOps.ivfPqTopK(queries, emb, k = 3,
        numCentroids = k, nProbe = 4, trainIters = 2, m = 8, ksub = 64,
        pqIters = 2)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
    val (p, d) = (rows(probe), rows(direct))
    assert(p.nonEmpty, "probe returned nothing")
    assert(p == d)
  }

  test("probe scans only the probed lists' code partitions (DPP)") {
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    val k = SimilarityQueries.ivfK(emb)
    val table = ivfPqTable(emb, k)
    val nLists = spark.table(s"${table}_codes")
      .select(col("list_id")).distinct().count()
    assert(nLists > 4, s"need >nProbe lists for the pruning assertion, got $nLists")

    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val one = emb.filter(col("vec_id") === 0)
      val probe = VectorOps.probeIvfPqIndex(spark, table, one, k = 3, nProbe = 4)
      val all = nodes(probe.queryExecution.executedPlan)
      val codeScans = all.collect {
        case f: FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains("codes")) => f
      }
      assert(codeScans.nonEmpty, "no file scan over the codes table found")
      codeScans.foreach { f =>
        assert(f.partitionFilters.exists(_.toString.toLowerCase.contains("dynamicpruning")),
          s"codes scan has no dynamic partition pruning filter:\n${f.partitionFilters}")
      }
      // the codes themselves never reshuffle below their broadcast join
      def pathTo(p: SparkPlan, t: SparkPlan): Option[List[SparkPlan]] =
        if (p eq t) Some(List(p))
        else p.children.view.flatMap(c => pathTo(c, t)).headOption.map(p :: _)
      codeScans.foreach { scan =>
        val path = pathTo(probe.queryExecution.executedPlan, scan)
          .getOrElse(fail("scan not reachable from root"))
        val joinAt = path.lastIndexWhere(
          _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
        assert(joinAt >= 0, "codes scan is not fed through a broadcast join")
        assert(!path.drop(joinAt).exists(_.isInstanceOf[ShuffleExchangeExec]),
          s"Exchange between the codes scan and its broadcast join:\n${path.drop(joinAt)}")
      }
      probe.count()
      val filesRead = codeScans.map(_.metrics("numFiles").value).sum
      val totalFiles = spark.table(s"${table}_codes")
        .select(input_file_name()).distinct().count()
      assert(filesRead < totalFiles,
        s"probe read all $totalFiles code files — partition pruning never happened")
      assert(filesRead <= 4 * math.max(1L, totalFiles / nLists) + 4,
        s"probe read $filesRead of $totalFiles files for 4 probed lists of $nLists")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("residual probe: exact reconstruction + DPP-pruned, shuffle-free code scan") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // 24 distinct vectors; pqIters=0 keeps the codebooks at the raw
    // residual seeds (ksub=64 ≥ 24 → every residual IS a seed), so
    // x̂ = c_L + r̂ reconstructs x exactly and residual-ADC cosine must
    // equal exact cosine within the floor(1e9)+round(6) contract — a
    // wrong centroid shift anywhere would miss by whole decimals
    val corpus = (0L until 24L).map(i =>
      (i, Array.tabulate(64)(d => math.sin(i * 7 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val table = "graft_ivfpq_res_spec_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_res_spec_").toString
    try {
      VectorOps.writeIvfPqResidualIndex(corpus, table, path,
        numCentroids = 3, trainIters = 0, m = 8, ksub = 64, pqIters = 0)
      val queries = corpus.filter(col("vec_id") < 3)
      // nProbe = all 3 lists → candidate set is the whole corpus minus
      // self, so the residual-ADC ranking must equal brute force
      val probe = VectorOps.probeIvfPqResidualIndex(spark, table, queries,
        k = 5, nProbe = 3)
      val got = probe.select(col("query_id"), col("neighbor_id"), col("cos_sim"))
        .as[(Long, Long, Double)].collect()
      val brute = VectorOps.bruteForceTopK(queries, corpus, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"))
        .as[(Long, Long, Double)].collect()
      assert(got.map(t => (t._1, t._2)).toSet == brute.map(t => (t._1, t._2)).toSet,
        "exact-reconstruction residual ADC must rank like brute force")
      val exact = brute.map(t => (t._1, t._2) -> t._3).toMap
      got.foreach { case (q, n, c) =>
        assert(math.abs(c - exact((q, n))) <= 2e-6,
          s"residual ADC score for ($q,$n): $c vs exact ${exact((q, n))}")
      }
      // the plan contract carries over from the non-residual probe:
      // DPP on the codes scan, no exchange below its broadcast join
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val pruned = VectorOps.probeIvfPqResidualIndex(spark, table,
          corpus.filter(col("vec_id") === 0), k = 3, nProbe = 1)
        val scans = nodes(pruned.queryExecution.executedPlan).collect {
          case f: FileSourceScanExec
              if f.relation.location.rootPaths.exists(_.toString.contains("codes")) => f
        }
        assert(scans.nonEmpty, "no file scan over the residual codes table")
        scans.foreach { f =>
          assert(f.partitionFilters.exists(
            _.toString.toLowerCase.contains("dynamicpruning")),
            s"residual codes scan lost DPP:\n${f.partitionFilters}")
        }
      } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    } finally {
      Seq(s"${table}_cents", s"${table}_codebooks", s"${table}_codes")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("append under frozen quantizers equals the frozen union build") {
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 10)
    val k = SimilarityQueries.ivfK(emb)
    val base = ivfPqTable(emb, k)
    val union = SimilarityQueries.dupVectors(emb)
    val batch = union.filter(col("vec_id") >= 100000)

    // clone (so the shared base stays untouched), then append the batch
    val table = "graft_ivfpq_spec_app_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val path =
      java.nio.file.Files.createTempDirectory("graft_ivfpq_spec_app_").toString
    IndexFamily.ivfPq(8, 64).cloneTo(spark, base, table, path)
    IndexFamily.ivfPq(8, 64).append(spark, table, batch)

    // frozen-quantizer truth: re-derive the batch's codes/lists against
    // the BASE quantizers and union with the base codes
    val cents = spark.table(s"${base}_cents")
    val pcents = spark.table(s"${base}_codebooks")
    val appended = spark.table(s"${table}_codes")
      .select(col("vec_id"), col("s"), col("cid"), col("list_id"))
    val expected = spark.table(s"${base}_codes")
      .select(col("vec_id"), col("s"), col("cid"), col("list_id"))
      .unionByName(
        VectorOps.pqEncode(batch, pcents).join(
          VectorOps.assignLists(batch, broadcast(cents))
            .select(col("vec_id"), col("list_id")), Seq("vec_id")))
    assert(appended.count() == union.count() * 8,
      "appended codes cardinality is not m rows per union vector")
    assert(appended.exceptAll(expected).isEmpty &&
      expected.exceptAll(appended).isEmpty,
      "appended codes differ from the frozen-quantizer union derivation")

    // probing the appended index finds the injected exact duplicates at
    // ADC-cosine ~1: each query vec_id<10 divisible by 4 has a twin
    val probe = VectorOps.probeIvfPqIndex(spark, table, queries, k = 3,
      nProbe = 4)
    val twins = probe.filter(col("neighbor_id") === col("query_id") + 100000)
      .count()
    assert(twins >= 2, s"expected injected twins in the top-3, found $twins")

    spark.sql(s"DROP TABLE IF EXISTS ${table}_cents")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_codebooks")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_codes")
  }

  test("upsert hygiene: one code set per id, pending deletes purged") {
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    val k = SimilarityQueries.ivfK(emb)
    val base = ivfPqTable(emb, k)
    val src = "graft_ivfpq_spec_ups_src_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val dest = "graft_ivfpq_spec_ups_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val p1 = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_spec_ups_").toString
    val p2 = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_spec_ups_").toString
    IndexFamily.ivfPq(8, 64).cloneTo(spark, base, src, p1)
    // a pending delete the upsert must settle
    IndexFamily.ivfPq(8, 64).delete(spark, src,
      emb.filter(col("vec_id") === 42).select(col("vec_id")))
    // a duplicate-id incoming batch (two rows for id 7) must reduce to
    // ONE code set — the uniform upsert hygiene contract
    val dup = emb.filter(col("vec_id") === 7).select(col("vec_id"), col("embedding"))
      .unionByName(
        emb.filter(col("vec_id") === 8)
          .select(lit(7L).as("vec_id"), col("embedding")))
    IndexFamily.ivfPq(8, 64).upsert(spark, src, dest, Seq(p2), dup)
    val codes = spark.table(s"${dest}_codes")
    assert(codes.filter(col("vec_id") === 7).count() == 8,
      "duplicate-id batch wrote more than one code set for id 7")
    assert(codes.filter(col("vec_id") === 42).count() == 0,
      "pending tombstone survived the upsert generation")
    assert(!spark.catalog.tableExists(s"${dest}_tombstones"),
      "upsert generation should start tombstone-free")
    Seq(s"${src}_cents", s"${src}_codebooks", s"${src}_codes",
      s"${src}_tombstones", s"${dest}_cents", s"${dest}_codebooks",
      s"${dest}_codes").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
