package graft.operators

import java.util.concurrent.{CompletionException, Executors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, StringType}

/** One index family — everything that differs between the standing
  * indexes (search, band, IVF, SQ8, binary, MRL, PQ, IVF-PQ, residual
  * IVF-PQ, graph) as the maintenance paths see them. The CDC routing,
  * sequencing, replay ledger and settle rule are shared in
  * [[graft.streaming.IngestStream.applyCdcFamilyBatch]] and
  * [[graft.streaming.IngestStream.settleFamilyUpserts]]; the batch
  * lifecycle epochs are shared in `SimilarityQueries`' stage functions.
  *
  *  - `idCol`/`payloadCol`/`payloadType`: the capture frame's key and
  *    row columns (`doc_id`/`text` or `vec_id`/`embedding`), also the
  *    `<table>_pending` queue's shape;
  *  - `append`: the batch path's frozen-layout insert of an
  *    `(id, payload)` frame;
  *  - `delete`: the seq-versioned tombstone of an `(id, seq)` frame;
  *  - `upsert`: the generation copy `src` → `dest` that re-ingests the
  *    settle's winner frame (written under `paths`);
  *  - `cloneTo`: the generation copy `src` → `dest` (under `path`) that
  *    carries pending tombstones along (`clone` would shadow
  *    `Object.clone`);
  *  - `compact`: the generation copy that settles them physically — the
  *    new generation starts tombstone-free;
  *  - `tables`: the suffixes of the tables one generation holds — what a
  *    pointer publish flips, what the settle refreshes, what an epoch
  *    drops;
  *  - `reingestInserts`: INSERTs queue instead of applying at drain time
  *    (graph: an insert is a beam WALK over the growing index, so it is
  *    order-dependent and settles as one batch for determinism — the
  *    FreshDiskANN streaming-merge model). */
final case class IndexFamily(
    idCol: String, payloadCol: String, payloadType: DataType,
    tables: Seq[String],
    append: (SparkSession, String, DataFrame) => Unit,
    delete: (SparkSession, String, DataFrame) => Unit,
    upsert: (SparkSession, String, String, Seq[String], DataFrame) => Unit,
    cloneTo: (SparkSession, String, String, String) => Unit,
    compact: (SparkSession, String, String, String) => Unit,
    reingestInserts: Boolean) {

  /** Every table a drain into `src` and a settle into `dest` leave
    * behind: both generations plus the source's three sidecars. */
  def tablesOf(src: String, dest: String): Seq[String] =
    tables.map(src + _) ++ IndexFamily.sidecars.map(src + _) ++
      tables.map(dest + _)
}

object IndexFamily {

  /** Written by the drain next to the family's own tables. */
  val sidecars: Seq[String] = Seq("_tombstones", "_pending", "_applied")

  /** Runs `writes` as concurrent Spark jobs and returns once every one
    * has finished. The callers pass writes of disjoint tables, none
    * reading a table another one writes, so their order never mattered —
    * only their job-and-commit latency added up.
    *
    * Each write is submitted through `SQLExecution.withThreadLocalCaptured`:
    * it runs under the calling thread's active session and SparkContext
    * local properties (job group, `sql.streaming.queryId`, batch id), so
    * `query.stop()` cancels it and listeners attribute its jobs exactly as
    * for a write on the micro-batch thread. Every write is waited for,
    * failed or not, before the first failure is rethrown with the others
    * suppressed — no write outlives a failed call. */
  private[graft] def concurrently(spark: SparkSession)(
      writes: (() => Unit)*): Unit = {
    val failures = writes
      .map(w => SQLExecution.withThreadLocalCaptured(spark, writePool)(w()))
      .flatMap { f =>
        try { f.join(); None }
        catch { case e: CompletionException => Some(e.getCause) }
      }
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
  }

  // cached, not fixed: the search family's append runs `concurrently`
  // again from inside a batch's fan-out and waits on this same pool
  private lazy val writePool = Executors.newCachedThreadPool { r =>
    val t = Executors.defaultThreadFactory().newThread(r)
    t.setName("graft-write-" + t.getId)
    t.setDaemon(true)
    t
  }

  private def text(tables: Seq[String],
      append: (SparkSession, String, DataFrame) => Unit,
      delete: (SparkSession, String, DataFrame) => Unit,
      upsert: (SparkSession, String, String, Seq[String], DataFrame) => Unit,
      cloneOp: (SparkSession, String, String, String, Boolean) => Unit)
      : IndexFamily =
    IndexFamily("doc_id", "text", StringType, tables, append, delete, upsert,
      cloneOp(_, _, _, _, false), cloneOp(_, _, _, _, true),
      reingestInserts = false)

  private def vector(tables: Seq[String],
      append: (SparkSession, String, DataFrame) => Unit,
      upsert: (SparkSession, String, String, String, DataFrame) => Unit,
      cloneOp: (SparkSession, String, String, String, Boolean) => Unit)
      : IndexFamily =
    IndexFamily("vec_id", "embedding",
      ArrayType(FloatType, containsNull = false), tables, append,
      VectorOps.deleteFromIvfIndex(_, _, _),
      (s, src, dest, paths, vecs) => upsert(s, src, dest, paths.head, vecs),
      cloneOp(_, _, _, _, false), cloneOp(_, _, _, _, true),
      reingestInserts = false)

  /** Postings + BM25 norms; the settle writes both (`paths` = postings
    * path, norms path). `numBuckets` reaches BOTH appends: the sidecar's
    * own default could otherwise disagree with a non-default index spec
    * and Spark rejects the mismatched bucketing. `cloneTo`/`compact` copy
    * the postings; the norms re-derive from them
    * ([[SearchOps.writeDocLengths]]). The two appends run as concurrent
    * jobs, as do the settle's two copies. */
  def search(numBuckets: Int): IndexFamily = text(Seq("", "_doclens"),
    (s, t, docs) => concurrently(s)(
      () => SearchOps.appendToSearchIndex(s, t, docs, "doc_id", "text",
        numBuckets),
      () => SearchOps.appendDocLengths(s, t, docs, "doc_id", "text",
        numBuckets)),
    SearchOps.deleteFromSearchIndex(_, _, _),
    (s, src, dest, paths, docs) => SearchOps.upsertToSearchIndex(s, src,
      dest, paths(0), paths(1), docs, "doc_id", "text", numBuckets),
    SearchOps.cloneSearchIndex(_, _, _, _, numBuckets, _))

  /** LSH band rows; a stale UPDATE left in place would pair under BOTH
    * texts (phantom jaccard matches), hence queue-until-settle. */
  def band(numBuckets: Int): IndexFamily = text(Seq(""),
    (s, t, docs) => Dedup.appendToBandIndex(s, t, docs, "doc_id", "text",
      numBuckets),
    Dedup.deleteFromBandIndex(_, _, _),
    (s, src, dest, paths, docs) => Dedup.upsertToBandIndex(s, src, dest,
      paths.head, docs, "doc_id", "text", numBuckets),
    Dedup.cloneBandIndex(_, _, _, _, numBuckets, _))

  /** IVF lists under the frozen coarse quantizer. */
  val ivf: IndexFamily = vector(Seq("_cents", "_lists"),
    VectorOps.appendToIvfIndex, VectorOps.upsertToIvfIndex,
    VectorOps.cloneIvfIndex)

  /** int8-coded IVF lists; the list copy is payload-agnostic. */
  val sq8: IndexFamily = vector(Seq("_cents", "_lists"),
    VectorOps.appendToIvfIndexSq8, VectorOps.upsertToIvfIndexSq8,
    VectorOps.cloneIvfIndex)

  /** Sign-mask lists packed through the frozen quantizer. */
  val binary: IndexFamily = vector(Seq("_cents", "_lists"),
    VectorOps.appendToIvfIndexBinary, VectorOps.upsertToIvfIndexBinary,
    VectorOps.cloneIvfIndex)

  /** Matryoshka prefix epoch — the prefix is a `slice()`, order-free, so
    * drain-time inserts are settle-equivalent. */
  val mrl: IndexFamily = vector(Seq("_cents", "_prefix", "_nodes"),
    VectorOps.appendToMrlIndex, VectorOps.upsertToMrlIndex,
    VectorOps.cloneMrlIndex)

  /** Flat PQ codes under the frozen codebooks (8 subspaces of 64 dims —
    * the served epoch's shape). */
  val pq: IndexFamily = vector(Seq("_codebooks", "_codes"),
    VectorOps.appendToPqIndex(_, _, _),
    VectorOps.upsertToPqIndex(_, _, _, _, _),
    VectorOps.clonePqIndex)

  /** kNN-graph generation — the one family whose INSERTs queue. */
  val graph: IndexFamily = vector(Seq("_cents", "_cells", "_nodes", "_edges"),
    GraphOps.appendToGraphIndex, GraphOps.upsertToGraphIndex,
    (s, src, dest, path, compact) =>
      if (compact) GraphOps.compactGraphIndex(s, src, dest, path)
      else GraphOps.cloneGraphIndex(s, src, dest, path))
    .copy(reingestInserts = true)

  /** IVF lists of PQ codes; `m`/`dim` serve the drain-time encode AND the
    * settle's re-encode, so a non-default index keeps its subspaces. */
  def ivfPq(m: Int, dim: Int): IndexFamily = vector(
    Seq("_cents", "_codebooks", "_codes"),
    VectorOps.appendToIvfPqIndex(_, _, _, m, dim),
    VectorOps.upsertToIvfPqIndex(_, _, _, _, _, m, dim),
    VectorOps.cloneIvfPqIndex)

  /** IVF-PQ over residuals against the list centroids; the code copy is
    * the composite's. */
  def ivfPqResidual(m: Int, dim: Int): IndexFamily = vector(
    Seq("_cents", "_codebooks", "_codes"),
    VectorOps.appendToIvfPqResidualIndex(_, _, _, m, dim),
    VectorOps.upsertToIvfPqResidualIndex(_, _, _, _, _, m, dim),
    VectorOps.cloneIvfPqIndex)
}
