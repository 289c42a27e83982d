package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Generations, IndexFamily, SearchOps, VectorOps}

/** The swap step of clone-append-validate-swap: after
  * [[Generations.swap]], the SERVING NAME serves the candidate
  * generation's rows and the candidate name the retired ones — pure
  * catalog metadata, no data movement (the files stay where the epoch
  * wrote them). */
class GenerationsSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("IVF swap: serving name serves the candidate generation, files unmoved") {
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    val k = SimilarityQueries.ivfK(emb)
    val serving = "graft_gen_swap_ivf_a_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val candidate = serving.replace("_a_", "_b_")
    val pA = java.nio.file.Files.createTempDirectory("graft_gen_swap_a_").toString
    val pB = java.nio.file.Files.createTempDirectory("graft_gen_swap_b_").toString
    try {
      // two genuinely different generations: the candidate also holds
      // an appended batch the serving one lacks
      VectorOps.writeIvfIndex(emb, serving, pA, numCentroids = k, trainIters = 2)
      VectorOps.writeIvfIndex(emb, candidate, pB, numCentroids = k, trainIters = 2)
      IndexFamily.ivf.append(spark, candidate,
        emb.filter(col("vec_id") < 5)
          .select((col("vec_id") + 900000).as("vec_id"), col("embedding")))
      val nServing = spark.table(s"${serving}_lists").count()
      val nCandidate = spark.table(s"${candidate}_lists").count()
      assert(nCandidate == nServing + 5)
      val filesBefore = spark.table(s"${candidate}_lists")
        .select(input_file_name()).distinct().collect().map(_.getString(0)).toSet

      Generations.swap(spark, serving, candidate, Seq("_cents", "_lists"))

      // the serving NAME now resolves to the candidate's rows, and the
      // retired generation stays addressable for rollback
      assert(spark.table(s"${serving}_lists").count() == nCandidate)
      assert(spark.table(s"${candidate}_lists").count() == nServing)
      assert(spark.table(s"${serving}_lists")
        .filter(col("vec_id") >= 900000).count() == 5)
      // metadata-only: the promoted generation reads the same files
      val filesAfter = spark.table(s"${serving}_lists")
        .select(input_file_name()).distinct().collect().map(_.getString(0)).toSet
      assert(filesAfter == filesBefore, "swap moved data, expected catalog-only")
      // and probes through the stable serving name see the new epoch
      val probe = VectorOps.probeIvfIndex(spark, serving,
          emb.filter(col("vec_id") === 1), k = 3, nProbe = 4)
        .filter(col("neighbor_id") === 900001L).collect()
      assert(probe.length == 1, "promoted generation not served under the serving name")
    } finally Seq(serving, candidate).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS ${t}_cents")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_lists")
    }
  }

  test("swap of a missing generation fails up front, catalog untouched") {
    val serving = "graft_gen_swap_guard_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val path = java.nio.file.Files.createTempDirectory("graft_gen_guard_").toString
    try {
      Seq((1L, "x")).toDF("doc_id", "text").write.format("parquet")
        .option("path", path).saveAsTable(serving)
      intercept[IllegalArgumentException] {
        Generations.swap(spark, serving, serving + "_nope")
      }
      // the existence check ran before any rename — the serving table
      // still resolves under its own name
      assert(spark.table(serving).count() == 1)
    } finally spark.sql(s"DROP TABLE IF EXISTS $serving")
  }

  test("search swap carries the norms sidecar with the postings") {
    val docs = Seq((1L, "alpha beta"), (2L, "alpha gamma delta")).toDF("doc_id", "text")
    val grown = docs.unionAll(Seq((3L, "alpha beta beta")).toDF("doc_id", "text"))
    val serving = "graft_gen_swap_search_a_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val candidate = serving.replace("_a_", "_b_")
    val paths = (1 to 4).map(_ =>
      java.nio.file.Files.createTempDirectory("graft_gen_swap_s_").toString)
    try {
      SearchOps.writeSearchIndex(docs, "doc_id", "text", serving, paths(0), numBuckets = 4)
      SearchOps.writeDocLengths(spark, serving, paths(1))
      SearchOps.writeSearchIndex(grown, "doc_id", "text", candidate, paths(2), numBuckets = 4)
      SearchOps.writeDocLengths(spark, candidate, paths(3))

      Generations.swap(spark, serving, candidate, Seq("", "_doclens"))

      // BM25 through the serving name uses the candidate's postings AND
      // norms together — the two halves can't swap independently
      assert(spark.table(s"${serving}_doclens").count() == 3)
      val hit = SearchOps.searchBm25(spark, serving, Seq("alpha", "beta"), 10)
        .collect().map(_.getLong(0)).toSet
      assert(hit == Set(1L, 3L), s"swapped BM25 served $hit")
    } finally Seq(serving, candidate).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS ${t}_doclens")
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }
}
