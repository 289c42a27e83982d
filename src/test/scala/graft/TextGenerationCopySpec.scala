package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, IndexFamily, SearchOps}

/** Pins what the search and band rows' four generation copies write —
  * `cloneTo`, `compact`, `upsert` and a re-shard under twice the bucket
  * count — on one small deterministic
  * fixture: a bucketed base generation, an appended file group, and
  * three tombstoned ids (one of them appended). For every table of each
  * destination generation the literal holds a hash of its sorted rows,
  * its bucket spec (count, bucket columns, sort columns) and its
  * partition columns; `_tombstones` is listed when the sidecar exists.
  * A last test pins the tombstone rows one delete appends for the ivf,
  * search and band rows, with and without a `seq` column. Any rewrite
  * of the copies or the delete must leave every literal unchanged. */
class TextGenerationCopySpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val words = Seq("spark", "vector", "window", "stream", "index",
    "delta", "kafka", "table", "query", "batch", "merge", "shard")

  private def text(i: Long): String =
    (0 until 12).map(j => words(((i * 5 + j * j * 3 + i * j) % 12).toInt))
      .mkString(" ")

  private def docs(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, text(i))).toDF("doc_id", "text")

  private lazy val corpus = docs(0L until 40L)
  private lazy val batch = docs(40L until 48L)
  private val deleted = Seq(3L, 7L, 41L)
  // id 5 twice (the max by content wins), a tombstoned id, an appended
  // id and a new one
  private lazy val incoming = Seq(5L -> text(105), 5L -> text(205),
      7L -> text(107), 42L -> text(142), 60L -> text(160))
    .toDF("doc_id", "text")

  /** `suffix=<row hash>/<buckets>:<bucket cols>:<sort cols>/<partition
    * columns>` per table, in `tables` order, then the sidecar's when it
    * exists. */
  private def layout(t: String, tables: Seq[String]): String =
    (tables ++ Seq("_tombstones").filter(x =>
        spark.catalog.tableExists(t + x))).map { x =>
      val meta = spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(t + x))
      val buckets = meta.bucketSpec.fold("")(b =>
        s"${b.numBuckets}:${b.bucketColumnNames.mkString(",")}:" +
          b.sortColumnNames.mkString(","))
      s"$x=${rowHash(spark.table(t + x))}/$buckets/" +
        meta.partitionColumnNames.mkString(",")
    }.mkString(" ")

  private def rowHash(df: DataFrame): String = {
    val rows = df.select(to_json(struct(df.columns.map(col): _*)))
      .as[String].collect().sorted
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.mkString("\n").getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
  }

  private def tag(): String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(12)

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_text_copy_pin_").toString

  /** Builds the fixture's source generation with `write` (handed a
    * maker of fresh directories), then runs the four copies, each in
    * fresh directories (`upsertPaths` of them for the upsert); the
    * re-shard writes `reshardTo` buckets. */
  private def check(name: String, family: IndexFamily,
      write: (DataFrame, String, () => String) => Unit, upsertPaths: Int,
      reshardTo: Int,
      expected: Map[String, String]): Unit = test(
      s"$name: clone, compact and upsert write the pinned generations") {
    val id = tag()
    val names = Seq("src", "clone", "compact", "upsert", "reshard")
      .map(g => g -> s"graft_text_copy_pin_${name}_${g}_$id").toMap
    val dirs = collection.mutable.Buffer.empty[String]
    def dir(): String = { val d = tmp(); dirs += d; d }
    try {
      val src = names("src")
      write(corpus, src, () => dir())
      family.append(spark, src, batch)
      family.delete(spark, src, deleted.toDF("doc_id"))
      family.cloneTo(spark, src, names("clone"), dir())
      family.compact(spark, src, names("compact"), dir())
      family.upsert(spark, src, names("upsert"),
        Seq.fill(upsertPaths)(dir()), incoming)
      family.reshard(spark, src, names("reshard"), dir(), reshardTo)
      val got = Seq("clone", "compact", "upsert", "reshard")
        .map(g => g -> layout(names(g), family.tables)).toMap
      assert(got == expected,
        "\n" + got.toSeq.sorted.map { case (g, l) => s"$g: $l" }
          .mkString("\n"))
    } finally {
      names.values.flatMap(t => (family.tables :+ "_tombstones").map(t + _))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      dirs.foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    }
  }

  check("search", IndexFamily.search(8),
    (docs, t, dir) => {
      SearchOps.writeSearchIndex(docs, "doc_id", "text", t, dir(),
        numBuckets = 8)
      SearchOps.writeDocLengths(spark, t, dir(), numBuckets = 8)
    }, upsertPaths = 2,
    reshardTo = 16,
    Map(
      "clone" ->
        ("=28b16a2f69a8a0bc/8:term:term/ " +
        "_doclens=f6d12ef0c9cb0958/8:doc_id:doc_id/ " +
        "_tombstones=21a48de9f6ee142e//"),
      "compact" ->
        ("=b6784e77e7dc8032/8:term:term/ " +
        "_doclens=5edd9befc56fc3ed/8:doc_id:doc_id/"),
      "upsert" ->
        ("=94c4abbc3f2268f6/8:term:term/ " +
        "_doclens=ba19fc4932d16377/8:doc_id:doc_id/"),
      "reshard" ->
        ("=b6784e77e7dc8032/16:term:term/ " +
        "_doclens=5edd9befc56fc3ed/16:doc_id:doc_id/")))

  check("band", IndexFamily.band(32),
    (docs, t, dir) => Dedup.writeBandIndex(docs, "doc_id", "text", t, dir(),
      numBuckets = 32),
    upsertPaths = 1,
    reshardTo = 64,
    Map(
      "clone" ->
        ("=d5924c357145ad05/32:band,bkey:band,bkey/ " +
        "_tombstones=21a48de9f6ee142e//"),
      "compact" -> "=8f664aa44db1110d/32:band,bkey:band,bkey/",
      "upsert" -> "=59c3fa25df6a47ec/32:band,bkey:band,bkey/",
      "reshard" -> "=8f664aa44db1110d/64:band,bkey:band,bkey/"))

  test("one delete appends the pinned tombstone rows, with and without seq") {
    val got = Seq("ivf" -> IndexFamily.ivf, "search" -> IndexFamily.search(8),
        "band" -> IndexFamily.band(32)).map { case (name, family) =>
      val t = s"graft_text_delete_pin_${name}_${tag()}"
      try {
        // a duplicate id without seq, then a duplicate (id, seq) row and
        // a second seq for an id already tombstoned
        family.delete(spark, t, Seq(3L, 7L, 7L).toDF(family.idCol))
        family.delete(spark, t, Seq((9L, 5), (9L, 5), (3L, 12))
          .toDF(family.idCol, "seq"))
        val rows = spark.table(s"${t}_tombstones")
        name -> (rows.columns.mkString(",") + ": " +
          rows.as[(Long, Long)].collect().sorted.mkString(" "))
      } finally spark.sql(s"DROP TABLE IF EXISTS ${t}_tombstones")
    }.toMap
    val rows = "seq: (3,12) (3,9223372036854775807) " +
      "(7,9223372036854775807) (9,5)"
    assert(got == Map("ivf" -> s"vec_id,$rows", "search" -> s"doc_id,$rows",
        "band" -> s"doc_id,$rows"),
      "\n" + got.toSeq.sorted.map { case (f, l) => s"$f: $l" }.mkString("\n"))
  }
}
