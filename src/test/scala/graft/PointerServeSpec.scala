package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Generations, IndexFamily, VectorOps}

/** Gates [[Generations.publishPointer]] serving — the atomic publish
  * for the multi-table index families (IVF `_cents`+`_lists`, band
  * rows) that cannot ride the search family's union view:
  *
  *  1. serving through the pointer is result-identical to probing the
  *     generation directly (indirection is result-invisible);
  *  2. a flip to a new generation re-routes the NEXT probe whole — a
  *     probe never resolves one suffix from each generation;
  *  3. a delete issued against the serving generation is visible
  *     through the pointer immediately (the tombstone sidecar resolves
  *     WITH the generation — the leak [[Generations.publish]]'s
  *     per-suffix views document);
  *  4. the probe PLAN keeps its dynamic partition pruning through the
  *     indirection (the pointer is dereferenced at plan time, so the
  *     executed plan is the direct probe's);
  *  5. non-pointer names pass [[Generations.resolveServing]] through
  *     unchanged.
  */
class PointerServeSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def uniq(p: String) =
    p + java.util.UUID.randomUUID().toString.replace("-", "")
  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(nodes)

  test("IVF pointer probe: parity, atomic flip, live tombstones, pruning kept") {
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 4)
    val k = SimilarityQueries.ivfK(emb)
    val gen1 = uniq("graft_pspec_ivf_g1_")
    val gen2 = uniq("graft_pspec_ivf_g2_")
    val view = uniq("graft_pspec_ivf_v_")
    val paths = (1 to 2).map(_ => tmp("graft_pspec_ivf_"))
    try {
      VectorOps.writeIvfIndex(emb, gen1, paths(0), numCentroids = k,
        trainIters = 2)
      // gen2: the same corpus minus the vectors 100-199 — a probe that
      // serves gen2 can lose those neighbors, so the two generations
      // are distinguishable by results
      VectorOps.writeIvfIndex(
        emb.filter(col("vec_id") < 100 || col("vec_id") >= 200),
        gen2, paths(1), numCentroids = k, trainIters = 2)
      Generations.publishPointer(spark, view, gen1,
        suffixes = Seq("_cents", "_lists"))
      assert(Generations.resolveServing(spark, view) == gen1)

      def res(t: String) = VectorOps.probeIvfIndex(spark, t, queries,
          k = 3, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // 1. parity with the direct probe
      assert(res(view) == res(gen1), "pointer probe must equal direct probe")

      // 4. the pruning expression survives the indirection (AQE off so
      // the executed plan exposes the scan, as in IvfIndexSpec)
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val probe = VectorOps.probeIvfIndex(spark, view,
          emb.filter(col("vec_id") === 0), k = 3, nProbe = 4)
        val listScans = nodes(probe.queryExecution.executedPlan).collect {
          case f: FileSourceScanExec
              if f.relation.location.rootPaths.exists(_.toString.contains("lists")) => f
        }
        assert(listScans.nonEmpty, "no lists scan under the pointer probe")
        listScans.foreach { f =>
          assert(f.partitionFilters.exists(
              _.toString.toLowerCase.contains("dynamicpruning")),
            s"pointer probe lost DPP:\n${f.partitionFilters}")
        }
      } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)

      // 3. a delete on the SERVING generation is visible through the
      // pointer immediately (generation tombstones, not view ones)
      val victim = res(view).map(_._2).head
      IndexFamily.ivf.delete(spark, gen1, Seq(victim).toDF("vec_id"))
      assert(!res(view).exists(_._2 == victim),
        "generation tombstone must resolve through the pointer")

      // 2. the flip re-routes the next probe whole
      Generations.publishPointer(spark, view, gen2,
        suffixes = Seq("_cents", "_lists"))
      assert(Generations.resolveServing(spark, view) == gen2)
      assert(res(view) == res(gen2), "flipped pointer must serve gen2")
    } finally {
      spark.sql(s"DROP VIEW IF EXISTS $view")
      Seq(s"${gen1}_cents", s"${gen1}_lists", s"${gen1}_tombstones",
        s"${gen2}_cents", s"${gen2}_lists")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("retireGeneration refuses while served, reclaims after the flip") {
    val corpus = Seq((10L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val gen1 = uniq("graft_retire_g1_")
    val gen2 = uniq("graft_retire_g2_")
    val view = uniq("graft_retire_v_")
    val sgen = uniq("graft_retire_sg_")
    val sview = uniq("graft_retire_sv_")
    val paths = (1 to 4).map(_ => tmp("graft_retire_"))
    try {
      graft.functions.GraftFunctions.register(spark)
      Dedup.writeBandIndex(corpus, "doc_id", "text", gen1, paths(0),
        numBuckets = 4)
      Dedup.writeBandIndex(corpus, "doc_id", "text", gen2, paths(1),
        numBuckets = 4)
      IndexFamily.band(4).delete(spark, gen1, Seq(99L).toDF("doc_id"))
      Generations.publishPointer(spark, view, gen1)
      // served → refuse (pointer view holds the generation's name)
      intercept[IllegalArgumentException] {
        Generations.retireGeneration(spark, gen1)
      }
      assert(spark.catalog.tableExists(gen1), "refusal must not drop")
      // flip to the successor → the retire reclaims tables + sidecars
      Generations.publishPointer(spark, view, gen2)
      Generations.retireGeneration(spark, gen1)
      assert(!spark.catalog.tableExists(gen1))
      assert(!spark.catalog.tableExists(s"${gen1}_tombstones"))
      assert(spark.catalog.tableExists(gen2), "successor must survive")
      // combined-view references refuse too
      graft.operators.SearchOps.writeSearchIndex(corpus, "doc_id", "text",
        sgen, paths(2), numBuckets = 4)
      graft.operators.SearchOps.writeDocLengths(spark, sgen, paths(3),
        numBuckets = 4)
      Generations.publishSearch(spark, sview, sgen)
      intercept[IllegalArgumentException] {
        Generations.retireGeneration(spark, sgen, Seq("", "_doclens"))
      }
      assert(spark.catalog.tableExists(sgen))
    } finally {
      Seq(view, sview).foreach(v => spark.sql(s"DROP VIEW IF EXISTS $v"))
      Seq(gen1, s"${gen1}_tombstones", gen2, sgen, s"${sgen}_doclens",
        s"${sgen}_tombstones").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("search pointer probe: BM25 parity and one dereference per probe") {
    // the search family accepts all three serving shapes; through a
    // pointer, postings AND norms must resolve from the same generation
    val docs = Seq(
      (1L, "spark window spark query"),
      (2L, "spark window window window"),
      (3L, "spark spark window table"))
      .toDF("doc_id", "text")
    val gen = uniq("graft_pspec_s_g_")
    val view = uniq("graft_pspec_s_v_")
    val paths = (1 to 2).map(_ => tmp("graft_pspec_s_"))
    try {
      graft.operators.SearchOps.writeSearchIndex(docs, "doc_id", "text",
        gen, paths(0), numBuckets = 4)
      graft.operators.SearchOps.writeDocLengths(spark, gen, paths(1),
        numBuckets = 4)
      Generations.publishPointer(spark, view, gen)
      def bm25(t: String) = graft.operators.SearchOps
        .searchBm25(spark, t, Seq("spark", "window"), k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(bm25(view) == bm25(gen) && bm25(view).nonEmpty,
        "pointer BM25 must equal the direct probe")
      IndexFamily.search(4).delete(spark, gen, Seq(2L).toDF("doc_id"))
      assert(bm25(view) == bm25(gen) && !bm25(view).exists(_._1 == 2L),
        "generation tombstone must resolve through the pointer incl. norms")
    } finally {
      spark.sql(s"DROP VIEW IF EXISTS $view")
      Seq(gen, s"${gen}_doclens", s"${gen}_tombstones")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("band pointer probe: parity, live tombstones, passthrough for tables") {
    graft.functions.GraftFunctions.register(spark)
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (20L, "alpha beta gamma delta epsilon zeta eta theta"),
      (21L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val gen = uniq("graft_pspec_band_g_")
    val view = uniq("graft_pspec_band_v_")
    val path = tmp("graft_pspec_band_")
    try {
      Dedup.writeBandIndex(corpus, "doc_id", "text", gen, path, numBuckets = 4)
      Generations.publishPointer(spark, view, gen)
      // 5. a real table name resolves to itself
      assert(Generations.resolveServing(spark, gen) == gen)
      def hits(t: String) = Dedup.probeBandIndex(spark, t, incoming,
        "doc_id", "text", 0.5).collect().map(_.getLong(1)).toSet
      assert(hits(view) == hits(gen) && hits(view) == Set(10L, 11L),
        "pointer probe must equal direct probe")
      IndexFamily.band(4).delete(spark, gen, Seq(10L).toDF("doc_id"))
      assert(hits(view) == Set(11L),
        "generation tombstone must resolve through the pointer")
    } finally {
      spark.sql(s"DROP VIEW IF EXISTS $view")
      Seq(gen, s"${gen}_tombstones")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}
