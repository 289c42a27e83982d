package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{GraphOps, IndexFamily, VectorOps}

/** Pins what each vector family's three generation copies write —
  * `cloneTo`, `compact` and `upsert` — on one small deterministic
  * fixture: a base generation, an appended batch, and three tombstoned
  * ids (one of them appended). For every table of each destination
  * generation the literal holds a hash of its sorted rows and its
  * partition columns; `_tombstones` is listed when the sidecar exists.
  * The retrains and derives that write a generation from a source are
  * pinned the same way. Any rewrite of the copies or the writes must
  * leave every literal unchanged. */
class VectorGenerationCopySpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val dim = 64

  private def vec(i: Long): Array[Float] =
    Array.tabulate(dim)(d => math.sin(i * 7 + d * 0.37).toFloat)

  private def vecs(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, vec(i))).toDF("vec_id", "embedding")

  private lazy val corpus = vecs(0L until 40L)
  private lazy val batch = vecs(40L until 48L)
  private val deleted = Seq(3L, 7L, 41L)
  // id 5 twice (the max by content wins), a tombstoned id, an appended
  // id and a new one
  private lazy val incoming = Seq(5L -> vec(105), 5L -> vec(205),
      7L -> vec(107), 42L -> vec(142), 60L -> vec(160))
    .toDF("vec_id", "embedding")
  // the graph row's batch: the same ids without the duplicate
  private lazy val graphIncoming = Seq(5L -> vec(105), 7L -> vec(107),
      42L -> vec(142), 60L -> vec(160))
    .toDF("vec_id", "embedding")

  /** `suffix=<row hash>/<partition columns>` per table, in `tables`
    * order, then the sidecar's when it exists and `sidecar` is set. */
  private def layout(t: String, tables: Seq[String],
      sidecar: Boolean): String =
    (tables ++ Seq("_tombstones").filter(x =>
        sidecar && spark.catalog.tableExists(t + x))).map { x =>
      val parts = spark.catalog.listColumns(t + x).collect()
        .filter(_.isPartition).map(_.name)
      s"$x=${rowHash(spark.table(t + x))}/${parts.mkString(",")}"
    }.mkString(" ")

  private def rowHash(df: DataFrame): String = {
    val rows = df.select(to_json(struct(df.columns.map(col): _*)))
      .as[String].collect().sorted
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.mkString("\n").getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
  }

  private def check(name: String, family: IndexFamily,
      write: (DataFrame, String, String) => Unit,
      expected: Map[String, String], upserted: => DataFrame = incoming,
      sidecar: Boolean = true): Unit = test(
      s"$name: clone, compact and upsert write the pinned generations") {
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val names = Seq("src", "clone", "compact", "upsert")
      .map(g => g -> s"graft_copy_pin_${name}_${g}_$tag").toMap
    val paths = Seq.fill(4)(java.nio.file.Files
      .createTempDirectory("graft_copy_pin_").toString)
    try {
      val src = names("src")
      write(corpus, src, paths(0))
      family.append(spark, src, batch)
      family.delete(spark, src, deleted.toDF("vec_id"))
      family.cloneTo(spark, src, names("clone"), paths(1))
      family.compact(spark, src, names("compact"), paths(2))
      family.upsert(spark, src, names("upsert"), Seq(paths(3)), upserted)
      val got = Seq("clone", "compact", "upsert")
        .map(g => g -> layout(names(g), family.tables, sidecar)).toMap
      assert(got == expected,
        "\n" + got.toSeq.sorted.map { case (g, l) => s"$g: $l" }
          .mkString("\n"))
    } finally {
      names.values.flatMap(t => (family.tables :+ "_tombstones").map(t + _))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      paths.foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    }
  }

  check("ivf", IndexFamily.ivf,
    VectorOps.writeIvfIndex(_, _, _, numCentroids = 4, trainIters = 1),
    Map(
      "clone" ->
        ("_cents=87da8b04237942cc/ " +
        "_lists=0894fcb79aa66400/list_id " +
        "_tombstones=38b66b7354dc1ea2/"),
      "compact" ->
        ("_cents=87da8b04237942cc/ " +
        "_lists=9ee526304c4a4a4d/list_id"),
      "upsert" ->
        ("_cents=87da8b04237942cc/ " +
        "_lists=983c4ea106e8b829/list_id")))

  check("sq8", IndexFamily.sq8,
    VectorOps.writeIvfIndexSq8(_, _, _, numCentroids = 4, trainIters = 1),
    Map(
      "clone" ->
        ("_cents=87da8b04237942cc/ " +
        "_lists=ce70e18ce252d0c6/list_id " +
        "_tombstones=38b66b7354dc1ea2/"),
      "compact" ->
        ("_cents=87da8b04237942cc/ " +
        "_lists=2452abdc57c7ff7b/list_id"),
      "upsert" ->
        ("_cents=87da8b04237942cc/ " +
        "_lists=1745536bb176a65f/list_id")))

  check("binary", IndexFamily.binary,
    VectorOps.writeIvfIndexBinary(_, _, _, numCentroids = 4,
      trainIters = 1),
    Map(
      "clone" ->
        ("_cents=87da8b04237942cc/ " +
        "_lists=b568f190b5e82ca2/list_id " +
        "_tombstones=38b66b7354dc1ea2/"),
      "compact" ->
        ("_cents=87da8b04237942cc/ " +
        "_lists=41af98452fcc75ac/list_id"),
      "upsert" ->
        ("_cents=87da8b04237942cc/ " +
        "_lists=af53a27382a0e624/list_id")))

  check("mrl", IndexFamily.mrl,
    VectorOps.writeMrlIndex(_, _, _, prefixDims = 16, numCentroids = 4,
      trainIters = 1),
    Map(
      "clone" ->
        ("_cents=3db6cfaff90c6c84/ " +
        "_prefix=cea1e6c9758aad79/list_id " +
        "_nodes=f0e1f4a9e97bbe03/ " +
        "_tombstones=38b66b7354dc1ea2/"),
      "compact" ->
        ("_cents=3db6cfaff90c6c84/ " +
        "_prefix=e13e4c9d5794ee3a/list_id " +
        "_nodes=5d148ab992fa7566/"),
      "upsert" ->
        ("_cents=3db6cfaff90c6c84/ " +
        "_prefix=9b1c3272e93a13b5/list_id " +
        "_nodes=b882451ba5438837/")))

  check("pq", IndexFamily.pq,
    VectorOps.writePqIndex(_, _, _, m = 8, ksub = 16, trainIters = 1,
      dim = dim),
    Map(
      "clone" ->
        ("_codebooks=54b5be1f128e0fc3/ " +
        "_codes=b4e7568c103e9113/ " +
        "_tombstones=38b66b7354dc1ea2/"),
      "compact" ->
        ("_codebooks=54b5be1f128e0fc3/ " +
        "_codes=ec9b9ef368a2aaf2/"),
      "upsert" ->
        ("_codebooks=54b5be1f128e0fc3/ " +
        "_codes=23250bbabe269a0d/")))

  check("ivfpq", IndexFamily.ivfPq(8, dim),
    VectorOps.writeIvfPqIndex(_, _, _, numCentroids = 4, trainIters = 1,
      m = 8, ksub = 16, pqIters = 1, dim = dim),
    Map(
      "clone" ->
        ("_cents=87da8b04237942cc/ " +
        "_codebooks=54b5be1f128e0fc3/ " +
        "_codes=55158ff21498cfbc/list_id " +
        "_tombstones=38b66b7354dc1ea2/"),
      "compact" ->
        ("_cents=87da8b04237942cc/ " +
        "_codebooks=54b5be1f128e0fc3/ " +
        "_codes=6f32019920c5ef5d/list_id"),
      "upsert" ->
        ("_cents=87da8b04237942cc/ " +
        "_codebooks=54b5be1f128e0fc3/ " +
        "_codes=b1c305949e7bd5e2/list_id")))

  check("ivfpq_res", IndexFamily.ivfPqResidual(8, dim),
    VectorOps.writeIvfPqResidualIndex(_, _, _, numCentroids = 4,
      trainIters = 1, m = 8, ksub = 16, pqIters = 1, dim = dim),
    Map(
      "clone" ->
        ("_cents=87da8b04237942cc/ " +
        "_codebooks=6d2f68f8aa846421/ " +
        "_codes=6b948369fd9052ea/list_id " +
        "_tombstones=38b66b7354dc1ea2/"),
      "compact" ->
        ("_cents=87da8b04237942cc/ " +
        "_codebooks=6d2f68f8aa846421/ " +
        "_codes=ec88f471c4d8e360/list_id"),
      "upsert" ->
        ("_cents=87da8b04237942cc/ " +
        "_codebooks=6d2f68f8aa846421/ " +
        "_codes=2bbf604ef227bfa2/list_id")))

  // the retrains read the fixture's appended, tombstoned generation and
  // the lake corpus base ∪ batch; the derives read an ivf master
  // carrying the same appends and tombstones
  test("retrain and derive write the pinned generations") {
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val made = scala.collection.mutable.ArrayBuffer.empty[String]
    val dirs = scala.collection.mutable.ArrayBuffer.empty[String]
    def fresh(g: String): (String, String) = {
      val t = s"graft_copy_pin_${g}_$tag"
      made += t
      dirs += java.nio.file.Files.createTempDirectory("graft_copy_pin_")
        .toString
      (t, dirs.last)
    }
    def source(name: String, family: IndexFamily,
        write: (DataFrame, String, String) => Unit): String = {
      val (src, path) = fresh(s"${name}_src")
      write(corpus, src, path)
      family.append(spark, src, batch)
      family.delete(spark, src, deleted.toDF("vec_id"))
      src
    }
    val lake = corpus.union(batch)
    type Into = (String, String, String) => Unit
    val retrains: Seq[(String, IndexFamily, (DataFrame, String, String) => Unit, Into)] = Seq(
      ("ivf", IndexFamily.ivf,
        VectorOps.writeIvfIndex(_, _, _, numCentroids = 4, trainIters = 1),
        VectorOps.retrainIvfIndex(spark, _, _, _, trainIters = 1)),
      ("sq8", IndexFamily.sq8,
        VectorOps.writeIvfIndexSq8(_, _, _, numCentroids = 4, trainIters = 1),
        VectorOps.retrain(spark, _, _, _, lake,
          VectorOps.writeIvfIndexSq8(_, _, _, _, trainIters = 1))),
      ("binary", IndexFamily.binary,
        VectorOps.writeIvfIndexBinary(_, _, _, numCentroids = 4,
          trainIters = 1),
        VectorOps.retrain(spark, _, _, _, lake,
          VectorOps.writeIvfIndexBinary(_, _, _, _, trainIters = 1))),
      ("ivfpq", IndexFamily.ivfPq(8, dim),
        VectorOps.writeIvfPqIndex(_, _, _, numCentroids = 4, trainIters = 1,
          m = 8, ksub = 16, pqIters = 1, dim = dim),
        VectorOps.retrain(spark, _, _, _, lake,
          VectorOps.writeIvfPqIndex(_, _, _, _, trainIters = 1, m = 8,
            ksub = 16, pqIters = 1, dim = dim))),
      ("ivfpq_res", IndexFamily.ivfPqResidual(8, dim),
        VectorOps.writeIvfPqResidualIndex(_, _, _, numCentroids = 4,
          trainIters = 1, m = 8, ksub = 16, pqIters = 1, dim = dim),
        VectorOps.retrain(spark, _, _, _, lake,
          VectorOps.writeIvfPqResidualIndex(_, _, _, _, trainIters = 1,
            m = 8, ksub = 16, pqIters = 1, dim = dim))))
    val derives: Seq[(String, IndexFamily, Into)] = Seq(
      ("sq8", IndexFamily.sq8,
        VectorOps.derive(spark, _, _, _, Nil, VectorOps.sq8Lists)),
      ("binary", IndexFamily.binary,
        VectorOps.derive(spark, _, _, _, Nil, VectorOps.binaryLists)),
      ("ivfpq", IndexFamily.ivfPq(8, dim),
        VectorOps.derive(spark, _, _, _,
          Seq(VectorOps.codebooks(8, 16, 1, dim, 16384L)),
          VectorOps.ivfPqCodes(8, dim))),
      ("ivfpq_res", IndexFamily.ivfPqResidual(8, dim),
        VectorOps.derive(spark, _, _, _,
          Seq(VectorOps.residualCodebooks(8, 16, 1, dim, 16384L)),
          VectorOps.ivfPqResidualCodes(8, dim))))
    try {
      val retrained = retrains.map { case (name, family, write, retrain) =>
        val src = source(name, family, write)
        val (dest, path) = fresh(s"${name}_retrain")
        retrain(src, dest, path)
        s"retrain $name" -> layout(dest, family.tables, sidecar = true)
      }
      val master = source("master", IndexFamily.ivf,
        VectorOps.writeIvfIndex(_, _, _, numCentroids = 4, trainIters = 1))
      val derived = derives.map { case (name, family, derive) =>
        val (dest, path) = fresh(s"${name}_derive")
        derive(master, dest, path)
        s"derive $name" -> layout(dest, family.tables, sidecar = true)
      }
      val got = (retrained ++ derived).toMap
      val expected = Map(
        "retrain ivf" ->
          ("_cents=c7688daf1ba7c8c8/ " +
          "_lists=070b045993810ec9/list_id"),
        "retrain sq8" ->
          ("_cents=c7688daf1ba7c8c8/ " +
          "_lists=f7bd3332f137313d/list_id"),
        "retrain binary" ->
          ("_cents=c7688daf1ba7c8c8/ " +
          "_lists=77293d0d55731ac2/list_id"),
        "retrain ivfpq" ->
          ("_cents=c7688daf1ba7c8c8/ " +
          "_codebooks=d3db60d4fa6b7af6/ " +
          "_codes=9418fed36ea875f7/list_id"),
        "retrain ivfpq_res" ->
          ("_cents=c7688daf1ba7c8c8/ " +
          "_codebooks=18f5eb2936b80643/ " +
          "_codes=734759180e14d217/list_id"),
        "derive sq8" ->
          ("_cents=87da8b04237942cc/ " +
          "_lists=2452abdc57c7ff7b/list_id"),
        "derive binary" ->
          ("_cents=87da8b04237942cc/ " +
          "_lists=41af98452fcc75ac/list_id"),
        "derive ivfpq" ->
          ("_cents=87da8b04237942cc/ " +
          "_codebooks=d3db60d4fa6b7af6/ " +
          "_codes=be8602ac8e50d5c2/list_id"),
        "derive ivfpq_res" ->
          ("_cents=87da8b04237942cc/ " +
          "_codebooks=52f33360347bf427/ " +
          "_codes=217082f3587cd92b/list_id"))
      assert(got == expected,
        "\n" + got.toSeq.sorted.map { case (g, l) => s"$g: $l" }
          .mkString("\n"))
    } finally {
      made.flatMap(t => Seq("_cents", "_lists", "_codebooks", "_codes",
          "_tombstones").map(t + _))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      dirs.foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    }
  }

  check("graph", IndexFamily.graph,
    GraphOps.writeGraphIndex(_, _, _, trainIters = 1),
    Map(
      "clone" ->
        ("_cents=d6a529c10dda5805/ " +
        "_cells=c59dfb4871555e52/list_id " +
        "_nodes=f0e1f4a9e97bbe03/ " +
        "_edges=98468796c752d8ac/"),
      "compact" ->
        ("_cents=d6a529c10dda5805/ " +
        "_cells=ab2d09f8aaa0aa46/list_id " +
        "_nodes=5d148ab992fa7566/ " +
        "_edges=c8676bba490f4b1c/"),
      "upsert" ->
        ("_cents=d6a529c10dda5805/ " +
        "_cells=669823d072a09eb8/list_id " +
        "_nodes=a97a8cd30b85c60a/ " +
        "_edges=ebb4144bb4bebe3c/")),
    upserted = graphIncoming, sidecar = false)
}
