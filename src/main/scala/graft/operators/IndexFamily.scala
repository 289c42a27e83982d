package graft.operators

import java.util.concurrent.{CompletionException, Executors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{broadcast, col, max}
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
  *    FreshDiskANN streaming-merge model).
  *
  * The text rows and the graph row bring their own `upsert`, `cloneTo`
  * and `compact`; every other vector row takes all three from one
  * layout-driven copy ([[IndexFamily.vector]]). */
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

  private val embeddingType = ArrayType(FloatType, containsNull = false)

  /** A vector family: only its tables and its frozen-layout `append`
    * differ, the three generation copies come from [[copyGeneration]].
    * The upsert is a compaction that also drops the incoming ids,
    * followed by the family's own append of one row per id — the latest
    * by a deterministic max over the array content, so a duplicate-id
    * batch cannot re-introduce the doubled id the upsert exists to
    * prevent. In-place re-ingestion is not offered: rows key on
    * `vec_id`, so an id stored under both its stale and fresh payload
    * would serve twice, or fold both code sets into one PQ score. */
  private[graft] def vector(tables: Seq[String],
      append: (SparkSession, String, DataFrame) => Unit): IndexFamily =
    IndexFamily("vec_id", "embedding", embeddingType, tables, append,
      VectorOps.deleteFromIvfIndex(_, _, _),
      (s, src, dest, paths, vecs) => {
        val latest = vecs.select(col("vec_id").cast("long").as("vec_id"),
            col("embedding"))
          .groupBy(col("vec_id")).agg(max(col("embedding")).as("embedding"))
        copyGeneration(s, tables, src, dest, paths.head,
          Some(Seq(latest.select(col("vec_id")))))
        append(s, dest, latest)
      },
      copyGeneration(_, tables, _, _, _, None),
      copyGeneration(_, tables, _, _, _, Some(Nil)),
      reingestInserts = false)

  /** Copies every table of generation `src` to `dest`, each under
    * `path/<suffix>`, by the layout the table already has — never a
    * retrain or a re-assignment. A table with no `vec_id` column is a
    * frozen quantizer (`_cents`, `_codebooks`) and copies verbatim. A
    * `vec_id` table keeps the partition columns the catalog reports
    * for it.
    *
    *  - `drop = None`, a plain clone: every row copies and the tombstone
    *    sidecar is carried over, so the clone serves exactly what the
    *    source serves and pending deletes cannot resurrect.
    *  - `drop = Some(ids)`, a compaction: the `vec_id` tables lose
    *    `ids` and the source's tombstoned ids, and are repartitioned by
    *    their partition columns, so each list is rewritten as one file
    *    (IvfIndexSpec pins the collapse). The new generation starts
    *    tombstone-free. */
  private def copyGeneration(s: SparkSession, tables: Seq[String],
      src: String, dest: String, path: String,
      drop: Option[Seq[DataFrame]]): Unit = {
    val tombstones = src + "_tombstones"
    val tombstoned = s.catalog.tableExists(tombstones)
    val dead = drop.flatMap(ids => (ids ++ Option.when(tombstoned)(
      s.table(tombstones).select(col("vec_id")))).reduceOption(_ unionByName _))
    tables.foreach { t =>
      val rows = s.table(src + t)
      val parts = s.catalog.listColumns(src + t).collect()
        .filter(_.isPartition).map(_.name).toSeq
      val copied =
        if (drop.isEmpty || !rows.columns.contains("vec_id")) rows
        else {
          val live = dead.fold(rows)(d =>
            rows.join(broadcast(d.distinct()), Seq("vec_id"), "left_anti"))
          if (parts.isEmpty) live else live.repartition(parts.map(col): _*)
        }
      copied.write.mode("overwrite").format("parquet").partitionBy(parts: _*)
        .option("path", s"$path/${t.stripPrefix("_")}").saveAsTable(dest + t)
    }
    if (drop.isEmpty && tombstoned)
      s.table(tombstones).write.mode("overwrite").format("parquet")
        .saveAsTable(dest + "_tombstones")
  }

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
    VectorOps.appendToIvfIndex)

  /** int8-coded IVF lists. */
  val sq8: IndexFamily = vector(Seq("_cents", "_lists"),
    VectorOps.appendToIvfIndexSq8)

  /** Sign-mask lists packed through the frozen quantizer. */
  val binary: IndexFamily = vector(Seq("_cents", "_lists"),
    VectorOps.appendToIvfIndexBinary)

  /** Matryoshka prefix epoch — the prefix is a `slice()`, order-free, so
    * drain-time inserts are settle-equivalent. */
  val mrl: IndexFamily = vector(Seq("_cents", "_prefix", "_nodes"),
    VectorOps.appendToMrlIndex)

  /** Flat PQ codes under the frozen codebooks (8 subspaces of 64 dims —
    * the served epoch's shape). */
  val pq: IndexFamily = vector(Seq("_codebooks", "_codes"),
    VectorOps.appendToPqIndex(_, _, _))

  /** kNN-graph generation — the one family whose INSERTs queue. Its
    * clone, compact and upsert are its own: a dropped node's edges
    * purge in both directions. */
  val graph: IndexFamily = IndexFamily("vec_id", "embedding", embeddingType,
    Seq("_cents", "_cells", "_nodes", "_edges"),
    GraphOps.appendToGraphIndex, VectorOps.deleteFromIvfIndex(_, _, _),
    (s, src, dest, paths, vecs) =>
      GraphOps.upsertToGraphIndex(s, src, dest, paths.head, vecs),
    GraphOps.cloneGraphIndex, GraphOps.compactGraphIndex,
    reingestInserts = true)

  /** IVF lists of PQ codes; `m`/`dim` serve the drain-time encode AND the
    * settle's re-encode, so a non-default index keeps its subspaces. */
  def ivfPq(m: Int, dim: Int): IndexFamily = vector(
    Seq("_cents", "_codebooks", "_codes"),
    VectorOps.appendToIvfPqIndex(_, _, _, m, dim))

  /** IVF-PQ over residuals against the list centroids. */
  def ivfPqResidual(m: Int, dim: Int): IndexFamily = vector(
    Seq("_cents", "_codebooks", "_codes"),
    VectorOps.appendToIvfPqResidualIndex(_, _, _, m, dim))
}
