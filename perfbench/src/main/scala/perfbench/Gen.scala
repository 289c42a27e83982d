package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of the seed
  * and a row's position, so equal seeds give byte-identical inputs. */
object Gen {

  /** Rows of the watched `lineitem` table (TPC-H sf0.1 shape). */
  val LineitemRows = 600000L

  private def h(seed: Long, salt: String, cs: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cs): _*)

  private def pick(seed: Long, salt: String, id: Column, n: Int): Column =
    pmod(h(seed, salt, id), lit(n.toLong))

  /** The lineitem row with surrogate key `l_pk` (order `l_pk / 4 + 1`,
    * line `l_pk % 4 + 1`); the key column comes first so the capture diff
    * treats the rest as data columns. */
  def lineitem(seed: Long, pk: Column): Seq[Column] = Seq(
    pk.as("l_pk"),
    (floor(pk / 4) + 1).cast("long").as("l_orderkey"),
    (pick(seed, "part", pk, 20000) + 1).as("l_partkey"),
    (pick(seed, "supp", pk, 1000) + 1).as("l_suppkey"),
    (pmod(pk, lit(4L)) + 1).cast("int").as("l_linenumber"),
    (pick(seed, "qty", pk, 50) + 1).cast("double").as("l_quantity"),
    (pick(seed, "price", pk, 10000000) / 100.0).as("l_extendedprice"),
    (pick(seed, "disc", pk, 11) / 100.0).as("l_discount"),
    (pick(seed, "tax", pk, 9) / 100.0).as("l_tax"),
    element_at(array(lit("A"), lit("N"), lit("R")),
      (pick(seed, "rf", pk, 3) + 1).cast("int")).as("l_returnflag"),
    element_at(array(lit("O"), lit("F")),
      (pick(seed, "ls", pk, 2) + 1).cast("int")).as("l_linestatus"),
    timestamp_seconds(lit(694224000L) +
      pick(seed, "ship", pk, 2526) * 86400L).as("l_shipdate"))

  val lineitemCols: Seq[String] = Seq("l_pk", "l_orderkey", "l_partkey",
    "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
    "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")

  /** The rows wave `w` touches: `id`, `kind` (U update, D delete) and
    * the update edit `mod` (0 = no-op). */
  def touched(spark: SparkSession, seed: Long, w: Int, selPerMille: Int): DataFrame = {
    val id = col("id")
    spark.range(0, LineitemRows)
      .filter(pmod(h(seed, "sel", lit(w), id), lit(1000L)) < selPerMille)
      .select(id, when(pmod(h(seed, "kind", lit(w), id), lit(100L)) < 80, "U")
        .otherwise("D").as("kind"),
        pmod(h(seed, "mod", lit(w), id), lit(10L)).as("mod"))
  }

  /** One capture wave: the OLD images of updated and deleted rows, the
    * NEW images of updated and inserted rows, with the generator's
    * `kind` (U/D/I) and `mod` (see [[touched]]). About
    * `selPerMille`/1000 of the table is touched (80% updates, 20%
    * deletes), plus `inserts` new rows. Update edits: 10% change
    * nothing, 10% set `l_returnflag` to NULL, the rest change one or two
    * columns. */
  def wave(spark: SparkSession, seed: Long, w: Int, selPerMille: Int,
      inserts: Int): (DataFrame, DataFrame) = {
    val old = touched(spark, seed, w, selPerMille).select((lineitem(seed, col("id")) :+ col("kind") :+ col("mod")): _*)
    val m = col("mod")
    val updated = old.filter(col("kind") === "U").select(
      col("l_pk"), col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
      col("l_linenumber"),
      when(m.isin(2, 3, 4), col("l_quantity") + 1).otherwise(col("l_quantity"))
        .as("l_quantity"),
      when(m.isin(5, 6), col("l_extendedprice") + 1.0)
        .otherwise(col("l_extendedprice")).as("l_extendedprice"),
      when(m.isin(5, 6), pmod((col("l_discount") * 100).cast("long") + 1, lit(11L)) / 100.0)
        .otherwise(col("l_discount")).as("l_discount"),
      col("l_tax"),
      when(m === 1, lit(null).cast("string")).otherwise(col("l_returnflag"))
        .as("l_returnflag"),
      when(m.isin(7, 8, 9), when(col("l_linestatus") === "O", "F").otherwise("O"))
        .otherwise(col("l_linestatus")).as("l_linestatus"),
      when(m.isin(7, 8, 9), col("l_shipdate") + expr("INTERVAL 1 DAY"))
        .otherwise(col("l_shipdate")).as("l_shipdate"),
      col("kind"), col("mod"))
    val base = LineitemRows + w.toLong * 1000000L
    val ins = spark.range(0, inserts).select(
      (lineitem(seed, col("id") + base) :+ lit("I").as("kind") :+ lit(-1L).as("mod")): _*)
    (old, updated.unionByName(ins))
  }

  /** Order-independent content digest of a frame: row count and the sum
    * of per-row 64-bit hashes over every column. */
  def digestCols(cols: Seq[String]): Seq[Column] = Seq(
    count(lit(1)).as("n"),
    sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")).as("h"))

  // ---------------------------------------------------------------- text

  /** Vocabulary shaped like the documents fixture: a few dozen common
    * terms with a Zipf-like frequency skew, plus a long tail. */
  val vocab: Array[String] = {
    val head = Seq("spark", "stream", "query", "table", "join", "scan",
      "filter", "group", "value", "data", "batch", "window", "key", "order",
      "sort", "hash", "line", "part", "row", "column", "vector", "index",
      "merge", "agg", "fast", "slow", "big", "small", "customer", "event")
    (head ++ (0 until 170).map(i => f"t$i%03d")).toArray
  }

  private val cdf: Array[Double] = {
    val w = vocab.indices.map(i => 1.0 / math.pow(i + 1, 0.9))
    val s = w.sum
    w.scanLeft(0.0)(_ + _ / s).tail.toArray
  }

  def word(r: java.util.SplittableRandom): String = {
    val u = r.nextDouble()
    var i = java.util.Arrays.binarySearch(cdf, u)
    if (i < 0) i = -i - 1
    vocab(math.min(i, vocab.length - 1))
  }

  def text(r: java.util.SplittableRandom, minLen: Int = 8, maxLen: Int = 60): String =
    Seq.fill(minLen + r.nextInt(maxLen - minLen + 1))(word(r)).mkString(" ")

  /** `n` documents with ids 0..n-1. */
  def documents(seed: Long, n: Int): Array[(Long, String)] = {
    val r = new java.util.SplittableRandom(seed * 7919L + 17L)
    Array.tabulate(n)(i => (i.toLong, text(r)))
  }

  /** `n` 64-dim unit vectors around 16 seeded cluster centres. */
  def vectors(seed: Long, n: Int, dim: Int = 64): Array[(Long, Array[Float])] = {
    val r = new java.util.SplittableRandom(seed * 104729L + 3L)
    val centres = Array.fill(16, dim)(r.nextDouble() * 2 - 1)
    Array.tabulate(n) { i =>
      val c = centres(r.nextInt(16))
      val v = c.map(x => x + (r.nextDouble() * 2 - 1) * 0.6)
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat))
    }
  }

  /** A document's 64-dim embedding: its hashed, L2-normalized term counts. */
  def embed(text: String, dim: Int = 64): Array[Float] = {
    val v = new Array[Double](dim)
    text.split(" ").filter(_.nonEmpty).foreach { t =>
      v(Math.floorMod(scala.util.hashing.MurmurHash3.stringHash(t), dim)) += 1.0
    }
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  def sha256(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(p => { md.update(p.getBytes("UTF-8")); md.update(0.toByte) })
    md.digest().map(b => f"$b%02x").mkString
  }
}
