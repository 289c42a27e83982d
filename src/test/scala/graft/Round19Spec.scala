package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.VectorOps

/** Gates for the r19 wave: the mmrTopK shortlist guard (VERDICT r18),
  * the MRL family lifecycle, and the served late-interaction index. */
class Round19Spec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("mrl mutation epochs all serve the untouched base ranking") {
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") < 10)
    val direct = VectorOps.mrlTopK(q, emb, k = 5, prefixDims = 32,
        shortlist = 100)
      .orderBy(col("query_id"), col("rk")).collect().map(_.toString).toSeq
    for (gen <- Seq(
        SimilarityQueries.delete(spark, sfDir, SimilarityQueries.mrl),
        SimilarityQueries.upsert(spark, sfDir, SimilarityQueries.mrl),
        SimilarityQueries.compact(spark, sfDir, SimilarityQueries.mrl),
        SimilarityQueries.pointer(spark, sfDir, SimilarityQueries.mrl))) {
      val got = VectorOps.probeMrlIndex(spark, gen, q, k = 5,
          prefixDims = 32, shortlist = 100)
        .orderBy(col("query_id"), col("rk")).collect().map(_.toString).toSeq
      assert(got == direct, s"epoch $gen drifted from the base ranking")
    }
  }

  test("mrl append epoch equals the frozen-derivation union build") {
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") < 10)
    val union = SimilarityQueries.dupVectors(emb)
      .select(col("vec_id"), col("embedding"))
    val direct = VectorOps.mrlTopK(q, union, k = 5, prefixDims = 32,
        shortlist = 100)
      .orderBy(col("query_id"), col("rk")).collect().map(_.toString).toSeq
    val got = VectorOps.probeMrlIndex(spark,
        SimilarityQueries.append(spark, sfDir, SimilarityQueries.mrl), q, k = 5,
        prefixDims = 32, shortlist = 100)
      .orderBy(col("query_id"), col("rk")).collect().map(_.toString).toSeq
    assert(got == direct, "append epoch drifted from the union build")
  }

  test("mrl composed probe prunes prefix ROWS via partition pruning") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, sfDir)
    val table = SimilarityQueries.base(spark, sfDir, SimilarityQueries.mrl)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val one = emb.filter(col("vec_id") === 0)
      val probe = VectorOps.probeMrlIndexIvf(spark, table, one, k = 3,
        prefixDims = 32, shortlist = 20, nProbe = 2)
      def nodes(p: SparkPlan): Seq[SparkPlan] =
        (p +: p.children.flatMap(nodes)) ++ p.subqueries.flatMap(nodes)
      val scans = nodes(probe.queryExecution.executedPlan).collect {
        case f: FileSourceScanExec
            if f.relation.location.rootPaths.exists(
              _.toString.contains("prefix")) => f
      }
      assert(scans.nonEmpty, "no file scan over the prefix table found")
      scans.foreach { f =>
        assert(f.partitionFilters.exists(
            _.toString.toLowerCase.contains("dynamicpruning")),
          s"prefix scan has no DPP filter:\n${f.partitionFilters}")
      }
      // runtime proof: fewer prefix files read than exist
      probe.count()
      val filesRead = scans.map(_.metrics("numFiles").value).sum
      val totalFiles = spark.table(s"${table}_prefix")
        .select(input_file_name()).distinct().count()
      assert(filesRead < totalFiles,
        s"composed probe read all $totalFiles prefix files")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("late interaction serves from the token-vector epoch, not the corpus") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import spark.implicits._
    val served = SparkEntry.queries("text_late_interaction")(spark, sfDir)
    // the served plan must read NO document text: every file scan is
    // over an epoch table (postings or token vectors), never the
    // documents parquet
    def nodes(p: SparkPlan): Seq[SparkPlan] =
      (p +: p.children.flatMap(nodes)) ++ p.subqueries.flatMap(nodes)
    val docScans = nodes(served.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(
            _.toString.contains("documents")) => f
    }
    assert(docScans.isEmpty,
      "served late-interaction probe re-reads the documents table")
    // ...and result-parity with the tokenize-candidates form it replaced
    val terms = Seq("spark", "vector", "window")
    val q = terms.toDF("qtok")
      .select(col("qtok"), graft.operators.TextOps.hashTokenVecExpr("qtok").as("qv"))
    val cand = spark.table(TextQueries.searchIndexFor(spark, sfDir))
      .filter(col("term").isin(terms: _*)).select(col("doc_id")).distinct()
    val inline = Tables.documents(spark, sfDir)
      .join(cand, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), explode(array_distinct(
        graft.operators.TextOps.tokens(col("text")))).as("tok"))
      .withColumn("tv", graft.operators.TextOps.hashTokenVecExpr("tok"))
      .crossJoin(broadcast(q))
      .select(col("doc_id"), col("qtok"),
        graft.operators.TextOps.intDot(col("tv"), col("qv")).as("dot"))
      .groupBy(col("doc_id"), col("qtok")).agg(max(col("dot")).as("m"))
      .groupBy(col("doc_id")).agg(sum(col("m")).as("maxsim"))
      .orderBy(col("maxsim").desc, col("doc_id")).limit(10)
    assert(served.collect().map(_.toString).toSeq ==
      inline.collect().map(_.toString).toSeq,
      "served probe drifted from the tokenize-candidates form")
  }

  test("mmrTopK refuses a shortlist past the driver-leaf bound") {
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") < 2)
    // the s² pairwise leaf grows quadratically in the PARAMETER — the
    // guard must fail loudly before any job is planned
    val e = intercept[IllegalArgumentException] {
      VectorOps.mmrTopK(q, emb, shortlist = 513, k = 3)
    }
    assert(e.getMessage.contains("shortlist"))
    // ...and the guarded region still serves at the bound's inside
    val ok = VectorOps.mmrTopK(q, emb, shortlist = 8, k = 3).collect()
    assert(ok.nonEmpty)
  }
}
