package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, StringType}
import graft.operators.{Dedup, GraphOps, SearchOps, VectorOps}

/** One index family as the CDC maintenance loop sees it — everything
  * that differs between the seven standing indexes the statement stream
  * maintains (search, IVF, binary, MRL, graph, IVF-PQ, band); the
  * routing, sequencing, replay ledger and settle rule are shared in
  * [[IngestStream.applyCdcFamilyBatch]] and
  * [[IngestStream.settleFamilyUpserts]].
  *
  *  - `idCol`/`payloadCol`/`payloadType`: the capture frame's key and
  *    row columns (`doc_id`/`text` or `vec_id`/`embedding`), also the
  *    `<table>_pending` queue's shape;
  *  - `append`: the batch path's frozen-layout insert of an
  *    `(id, payload)` frame;
  *  - `delete`: the seq-versioned tombstone of an `(id, seq)` frame;
  *  - `upsert`: the generation copy `src` → `dest` that re-ingests the
  *    settle's winner frame (written under `paths`);
  *  - `tables`: the suffixes of the tables one generation holds — what a
  *    pointer publish flips, what the settle refreshes, what an epoch
  *    drops;
  *  - `reingestInserts`: INSERTs queue instead of applying at drain time
  *    (graph: an insert is a beam WALK over the growing index, so it is
  *    order-dependent and settles as one batch for determinism — the
  *    FreshDiskANN streaming-merge model). */
final case class CdcFamily(
    idCol: String, payloadCol: String, payloadType: DataType,
    tables: Seq[String],
    append: (SparkSession, String, DataFrame) => Unit,
    delete: (SparkSession, String, DataFrame) => Unit,
    upsert: (SparkSession, String, String, Seq[String], DataFrame) => Unit,
    reingestInserts: Boolean) {

  /** Every table a drain into `src` and a settle into `dest` leave
    * behind: both generations plus the source's three sidecars. */
  def tablesOf(src: String, dest: String): Seq[String] =
    tables.map(src + _) ++ CdcFamily.sidecars.map(src + _) ++
      tables.map(dest + _)
}

object CdcFamily {

  /** Written by the drain next to the family's own tables. */
  val sidecars: Seq[String] = Seq("_tombstones", "_pending", "_applied")

  private def text(tables: Seq[String],
      append: (SparkSession, String, DataFrame) => Unit,
      delete: (SparkSession, String, DataFrame) => Unit,
      upsert: (SparkSession, String, String, Seq[String], DataFrame) => Unit)
      : CdcFamily =
    CdcFamily("doc_id", "text", StringType, tables, append, delete, upsert,
      reingestInserts = false)

  private def vector(tables: Seq[String],
      append: (SparkSession, String, DataFrame) => Unit,
      upsert: (SparkSession, String, String, String, DataFrame) => Unit)
      : CdcFamily =
    CdcFamily("vec_id", "embedding", ArrayType(FloatType, containsNull = false),
      tables, append, VectorOps.deleteFromIvfIndex(_, _, _),
      (s, src, dest, paths, vecs) => upsert(s, src, dest, paths.head, vecs),
      reingestInserts = false)

  /** Postings + BM25 norms; the settle writes both (`paths` = postings
    * path, norms path). `numBuckets` reaches BOTH appends: the sidecar's
    * own default could otherwise disagree with a non-default index spec
    * and Spark rejects the mismatched bucketing. */
  def search(numBuckets: Int): CdcFamily = text(Seq("", "_doclens"),
    (s, t, docs) => {
      SearchOps.appendToSearchIndex(s, t, docs, "doc_id", "text", numBuckets)
      SearchOps.appendDocLengths(s, t, docs, "doc_id", "text", numBuckets)
    },
    SearchOps.deleteFromSearchIndex(_, _, _),
    (s, src, dest, paths, docs) => SearchOps.upsertToSearchIndex(s, src,
      dest, paths(0), paths(1), docs, "doc_id", "text", numBuckets))

  /** LSH band rows; a stale UPDATE left in place would pair under BOTH
    * texts (phantom jaccard matches), hence queue-until-settle. */
  def band(numBuckets: Int): CdcFamily = text(Seq(""),
    (s, t, docs) => Dedup.appendToBandIndex(s, t, docs, "doc_id", "text",
      numBuckets),
    Dedup.deleteFromBandIndex(_, _, _),
    (s, src, dest, paths, docs) => Dedup.upsertToBandIndex(s, src, dest,
      paths.head, docs, "doc_id", "text", numBuckets))

  /** IVF lists under the frozen coarse quantizer. */
  val ivf: CdcFamily = vector(Seq("_cents", "_lists"),
    VectorOps.appendToIvfIndex, VectorOps.upsertToIvfIndex)

  /** Sign-mask lists packed through the frozen quantizer. */
  val binary: CdcFamily = vector(Seq("_cents", "_lists"),
    VectorOps.appendToIvfIndexBinary, VectorOps.upsertToIvfIndexBinary)

  /** Matryoshka prefix epoch — the prefix is a `slice()`, order-free, so
    * drain-time inserts are settle-equivalent. */
  val mrl: CdcFamily = vector(Seq("_cents", "_prefix", "_nodes"),
    VectorOps.appendToMrlIndex, VectorOps.upsertToMrlIndex)

  /** kNN-graph generation — the one family whose INSERTs queue. */
  val graph: CdcFamily = vector(Seq("_cents", "_cells", "_nodes", "_edges"),
    GraphOps.appendToGraphIndex, GraphOps.upsertToGraphIndex)
    .copy(reingestInserts = true)

  /** IVF lists of PQ codes; `m`/`dim` serve the drain-time encode AND the
    * settle's re-encode, so a non-default index keeps its subspaces. */
  def ivfPq(m: Int, dim: Int): CdcFamily = vector(
    Seq("_cents", "_codebooks", "_codes"),
    VectorOps.appendToIvfPqIndex(_, _, _, m, dim),
    VectorOps.upsertToIvfPqIndex(_, _, _, _, _, m, dim))
}
