package perfbench

import org.apache.spark.sql.{Row, SparkSession}

/** BM25 computed directly from the documents with the same integer
  * quantization `SearchOps.searchBm25` documents (floor-quantized idf,
  * exact rational tf part, integer addends), ranked (score desc, doc_id). */
class Bm25Oracle(docs: Map[Long, String]) {
  private val tf: Map[Long, Map[String, Long]] = docs.map { case (id, t) =>
    id -> t.split(" ").filter(_.nonEmpty).groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
  }
  private val dl: Map[Long, Long] = tf.map { case (id, m) => id -> m.values.sum }
  private val n = docs.size.toLong
  private val totalDl = dl.values.sum

  def topK(terms: Seq[String], k: Int, conjunctive: Boolean): Seq[(Long, Long)] = {
    val df = terms.map(t => t -> tf.count(_._2.contains(t)).toLong).toMap
    val idf6 = terms.map { t =>
      t -> math.floor(1000000.0 * StrictMath.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1.0)).toLong
    }.toMap
    tf.iterator.flatMap { case (id, m) =>
      val present = terms.filter(m.contains)
      if (present.isEmpty || conjunctive && present.length != terms.length) None
      else Some(id -> present.map { t =>
        val f = m(t).toDouble
        val part = (22.0 * f * totalDl) /
          (10.0 * f * totalDl + 3.0 * totalDl + 9.0 * dl(id) * n)
        math.floor(idf6(t) * part).toLong
      }.sum)
    }.toSeq.sortBy { case (id, s) => (-s, id) }.take(k)
  }
}

/** Exact nearest neighbours for an IVF probe, from the vectors
  * themselves: the probe's `nProbe` nearest lists are recomputed from the
  * index's centroids, and the top-k over those lists' members is brute
  * force. Cosines agree to [[IvfOracle.Tol]]; ties within that band at the
  * cut may go either way. */
final case class IvfOracle(cents: Seq[(Int, Array[Float])], listOf: Map[Long, Int],
    vectors: Map[Long, Array[Float]]) {
  import IvfOracle._

  /** Failures for one query's rows (query_id, neighbor_id, cos_sim, rk). */
  def check(qid: Long, qv: Array[Float], got: Seq[Row], nProbe: Int, k: Int = 10): Seq[String] = {
    val csims = cents.map { case (c, cv) => (c, cos(qv, cv)) }.sortBy { case (c, s) => (-s, c) }
    // a near-tie for the last probed list makes the candidate set ambiguous
    if (csims.length > nProbe && csims(nProbe - 1)._2 - csims(nProbe)._2 < Tol) return Nil
    val probed = csims.take(nProbe).map(_._1).toSet
    val cands = vectors.iterator.filter { case (id, _) => probed(listOf(id)) && id != qid }
      .map { case (id, v) => (id, cos(qv, v)) }.toSeq.sortBy { case (id, s) => (-s, id) }
    val gotIds = got.map(x => x.getLong(1) -> x.getDouble(2))
    if (gotIds.length != math.min(k, cands.length))
      return Seq(s"query $qid got ${gotIds.length} neighbours, expected ${math.min(k, cands.length)}")
    val exact = cands.toMap
    val wrong = gotIds.collect { case (id, s) if !exact.get(id).exists(e => math.abs(e - s) < Tol) =>
      s"query $qid neighbour $id score $s is not the exact ${exact.get(id)}" }
    val cut = gotIds.map(_._2).min
    val missed = cands.collect { case (id, s) if s > cut + Tol && !gotIds.exists(_._1 == id) =>
      s"query $qid missed neighbour $id at $s" }
    wrong ++ missed
  }
}

object IvfOracle {
  val Tol = 1e-5

  /** Reads the centroids and list assignment of a `writeIvfIndex` table. */
  def apply(spark: SparkSession, table: String, vectors: Map[Long, Array[Float]]): IvfOracle =
    IvfOracle(
      spark.table(s"${table}_cents").collect().toSeq
        .map(r => (r.getAs[Number]("cid").intValue(), r.getSeq[Float](r.fieldIndex("cv")).toArray)),
      spark.table(s"${table}_lists").select("vec_id", "list_id").collect()
        .map(r => r.getLong(0) -> r.getAs[Number](1).intValue()).toMap,
      vectors)

  def cos(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var k = 0
    while (k < a.length) {
      d += a(k).toDouble * b(k); na += a(k).toDouble * a(k); nb += b(k).toDouble * b(k)
      k += 1
    }
    d / math.sqrt(na * nb)
  }
}
